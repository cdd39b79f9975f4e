"""Hybrid engine facade: backend dispatch between the Variant tier and the
Python tier, parity between backends on the same documents, the compile
memo, and Catalyst column pruning through the validation machinery."""

import json

import pytest
from pyspark.sql import functions as F

from json_schema_clj_spark import engine
from json_schema_clj_spark.sources.images import FLAGSHIP_SCHEMA, images_df

CLOSED = {
    "type": "object",
    "required": ["name"],
    "properties": {
        "name": {"type": "string"},
        "age": {"type": "integer", "minimum": 0, "maximum": 150},
        "tags": {"type": "array", "items": {"type": "string"}, "maxItems": 3},
    },
}

DYNAMIC = {  # recursion → python backend
    "definitions": {"n": {"properties": {"next": {"$ref": "#/definitions/n"}},
                          "required": ["v"]}},
    "$ref": "#/definitions/n",
}

DOCS = [
    {"name": "a", "age": 3, "tags": ["x"]},
    {"name": "", "age": 3},             # blank-string quirk
    {"age": -1},                         # required + minimum
    {"name": "b", "tags": ["1", "2", "3", "4"]},  # maxItems
]


def _df(spark, docs):
    return spark.createDataFrame([(json.dumps(d),) for d in docs], "data_json string")


def test_one_doc_api():
    assert engine.validate(CLOSED, DOCS[0])["errors"] == []
    v = engine.compile(CLOSED)
    assert v(DOCS[2])["errors"]


def test_backend_dispatch(spark):
    df = _df(spark, DOCS)
    var_out = engine.validate_json_column(df, CLOSED)  # Variant tier (default)
    plan = var_out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    py_out = engine.validate_json_column(df, DYNAMIC)  # python backend (default)
    plan = py_out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan or "BatchEvalPython" in plan


def test_backend_parity(spark):
    df = _df(spark, DOCS)
    var_valid = [r["valid"] for r in engine.validate_json_column(df, CLOSED, force_backend="variant").collect()]
    py_valid = [
        r["valid"]
        for r in engine.validate_json_column(df, CLOSED, force_backend="python").collect()
    ]
    driver_valid = [not engine.validate(CLOSED, d)["errors"] for d in DOCS]
    assert var_valid == py_valid == driver_valid == [True, False, False, False]


def test_column_pruning_through_validation(spark, tmp_path):
    """A schema referencing only `w` must produce a parquet scan that reads
    only `w` — pushdown/pruning survives the violation machinery."""
    path = str(tmp_path / "imgs")
    images_df(spark, 1000).write.parquet(path)
    df = spark.read.parquet(path)
    out = engine.with_validation(df.select("w"), {"properties": {"w": {"minimum": 1}}})
    agg = out.agg(F.sum(F.col("valid").cast("int")))
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema: struct<w:int>" in plan, plan[-1500:]


def test_full_table_scan_pruning(spark, tmp_path):
    """Even validating the FULL flagship schema, a verdict aggregation must
    not read `bytes` (the schema never references it beyond required, which
    is presence-only... it IS referenced; instead check an unreferenced
    column is pruned when dropped from the schema)."""
    path = str(tmp_path / "imgs2")
    images_df(spark, 1000).write.parquet(path)
    df = spark.read.parquet(path)
    schema = {k: v for k, v in FLAGSHIP_SCHEMA.items()}
    schema = {
        "type": "object",
        "required": ["image_id"],
        "properties": {"w": FLAGSHIP_SCHEMA["properties"]["w"]},
    }
    out = engine.with_validation(df, schema)
    agg = out.agg(F.sum(F.col("valid").cast("int")))
    plan = agg._jdf.queryExecution().executedPlan().toString()
    # bytes/caption/phash not referenced → pruned from the scan
    assert "bytes" not in plan.split("ReadSchema:")[-1]
    assert "caption" not in plan.split("ReadSchema:")[-1]

def test_default_backend_catches_type_mismatch(spark):
    """Raw JSON keeps every value's runtime type on both JSON tiers, so a
    type-mismatched field fails its `type` check (a from_json struct would
    null or coerce it and silently pass)."""
    docs = [{"name": 5}]  # integer where a string is required
    df = _df(spark, docs)
    out = engine.validate_json_column(df, CLOSED).collect()
    assert out[0]["valid"] is False  # reference: "expected type of string"


def test_null_ok_custom_check_reads_invalid(spark):
    # a custom register_keyword check whose ok Column evaluates to NULL
    # must yield valid=False WITH its violation — valid == (empty?
    # violations) is the reference contract (core.clj valid? = no errors);
    # a NULL valid would silently drop the row from ~valid prefilters
    from pyspark.sql import functions as F

    from json_schema_clj_spark import engine
    from json_schema_clj_spark.plans.ir import simple_check
    from json_schema_clj_spark.plans.compiler import KEYWORD_COMPILERS

    def col_nullok(value, schema, target, ctx):
        # ok is NULL for any present value <= 3 (when with no otherwise):
        # the classic 3VL trap in a user-supplied check
        return simple_check(
            F.when(target > 3, F.lit(True)), ctx.schema_path,
            ctx.instance_path, "gt3Strict", "expected > 3", "error",
        )

    engine.register_keyword("gt3Strict", column_compiler=col_nullok)
    try:
        from json_schema_clj_spark.operators.validate import with_validation

        df = spark.createDataFrame([(1, 1), (2, 5)], "id long, v long")
        out = with_validation(
            df, {"properties": {"v": {"gt3Strict": True}}}
        ).select("id", "valid", F.size("violations").alias("nv")).collect()
        rows = {r["id"]: (r["valid"], r["nv"]) for r in out}
        assert rows[2] == (True, 0)
        # NULL ok: invalid (not NULL), violation emitted
        assert rows[1] == (False, 1)
    finally:
        KEYWORD_COMPILERS.pop("gt3Strict", None)


def test_registered_keyword_reaches_json_tier(spark):
    # a keyword registered after import compiles on typed columns only: the
    # Variant tier must decline the schema (fall back to the Python tier),
    # never drop the keyword and pass the document
    from json_schema_clj_spark.plans.compiler import KEYWORD_COMPILERS
    from json_schema_clj_spark.plans.ir import simple_check
    from json_schema_clj_spark.pyvalidator.validator import KEYWORDS, _add_error

    def col_gt3(value, schema, target, ctx):
        return simple_check(
            F.when(target.isNull(), F.lit(True)).otherwise(target > 3),
            ctx.schema_path, ctx.instance_path, "gt3", "expected > 3", "error",
        )

    def py_gt3(value, schema, cc):
        def vfn(v, path, run):
            if isinstance(v, int) and not v > 3:
                _add_error(run, "gt3", path, "expected > 3")

        return vfn

    schema = {"properties": {"v": {"gt3": True}}}
    engine.register_keyword("gt3", column_compiler=col_gt3, python_compiler=py_gt3)
    try:
        out = engine.validate_json_column(_df(spark, [{"v": 1}, {"v": 5}]), schema)
        rows = out.collect()
        assert [r["valid"] for r in rows] == [False, True]
        assert [v["message"] for v in rows[0]["violations"]] == ["expected > 3"]
        table = spark.createDataFrame([(1,), (5,)], "v long")
        assert [r["valid"] for r in engine.with_validation(table, schema).collect()] == [False, True]
    finally:
        KEYWORD_COMPILERS.pop("gt3", None)
        KEYWORDS.pop("gt3", None)


def test_compile_memo_bounded_and_remembers_declines(spark):
    from json_schema_clj_spark.plans import compiler

    df = _df(spark, DOCS)
    for schema in (CLOSED, DYNAMIC):  # a Variant compile and a decline
        engine.validate_json_column(df, schema)
        misses = compiler._memo.cache_info().misses
        engine.validate_json_column(df, schema)
        assert compiler._memo.cache_info().misses == misses  # compiled nothing
    bound = compiler.COMPILE_MEMO_SIZE
    for i in range(bound + 8):  # distinct schemas, declined without Spark work
        try:
            compiler.compile_json_column({"enum": [{"i": i}]}, "data_json")
        except compiler.ColumnBackendUnsupported:
            pass
    info = compiler._memo.cache_info()
    assert info.currsize <= info.maxsize == bound
    # least recently used out: CLOSED compiles again
    engine.validate_json_column(df, CLOSED)
    assert compiler._memo.cache_info().misses == info.misses + 1


#: documents that are not strict JSON, plus one that is
HOSTILE = [
    "{oops", "", "   ", "[1,", "'a'", '{"k": 01}', "1.", "tru",
    "NaN", '{"k": NaN}', '{"k": Infinity}', "-Infinity",
    "[" * 5000 + "]" * 5000,  # deeper than either parser nests
    '{"k": 1}',
]


def test_hostile_rows_are_records_on_both_tiers(spark):
    """A batch of bad documents neither aborts the job on the Arrow-Python
    tier (no PythonException escapes) nor reads NaN/Infinity as numbers:
    each bad row gets the Variant tier's `$parse` record, so both tiers
    give equal records."""
    from pyspark.errors import PythonException

    df = spark.createDataFrame(list(enumerate(HOSTILE)), "i int, data_json string")
    schema = {"type": "object", "properties": {"k": {"type": "integer"}}}
    got = {}
    for backend in ("python", "variant"):
        try:
            rows = engine.validate_json_column(df, schema, force_backend=backend).collect()
        except PythonException as e:
            raise AssertionError(f"{backend} tier aborted on a hostile row: {e}")
        got[backend] = {r["i"]: (r["valid"], [tuple(v) for v in r["violations"]]) for r in rows}
    assert got["python"] == got["variant"]
    parse = (False, [([], [], "$parse", "malformed JSON", "error")])
    assert [got["python"][i] for i in range(len(HOSTILE) - 1)] == [parse] * (len(HOSTILE) - 1)
    assert got["python"][len(HOSTILE) - 1] == (True, [])


@pytest.mark.parametrize("backend", [None, "python"])
def test_deep_recursion_is_a_record_not_an_abort(spark, backend):
    """A document nested deeper than the validator can recurse, under a
    recursive `$ref` the Variant tier declines (so auto dispatch lands on
    the Arrow-Python tier too), gets a per-row `$depth` record: no
    PythonException escapes, and the shallow row in the same batch gets
    the result it gets alone."""
    from pyspark.errors import PythonException

    schema = {"type": "array", "items": {"$ref": "#"}}
    deep, shallow = "[" * 300 + "]" * 300, "[[], [1]]"
    df = spark.createDataFrame([(0, deep), (1, shallow)], "i int, data_json string")

    def run(frame):
        try:
            rows = engine.validate_json_column(frame, schema, force_backend=backend).orderBy("i").collect()
        except PythonException as e:
            raise AssertionError(f"a deep row aborted the job: {e}")
        return [(r["valid"], [tuple(v) for v in r["violations"]]) for r in rows]

    got = run(df)
    assert got[0] == (False, [([], [], "$depth", "nested beyond the validator's recursion limit", "error")])
    assert got[1] == run(df.where("i = 1"))[0]
    assert got[1][0] is False and [v[1] for v in got[1][1]] == [["1", "0"]]


def _both_tiers(spark, docs, schema, config=None):
    """{backend: [(valid, violation records)]} over `docs` in order."""
    df = spark.createDataFrame(list(enumerate(docs)), "i int, data_json string")
    return {
        backend: [
            (r["valid"], [tuple(v) for v in r["violations"]])
            for r in engine.validate_json_column(df, schema, config=config, force_backend=backend)
            .orderBy("i")
            .collect()
        ]
        for backend in ("python", "variant")
    }


@pytest.mark.parametrize("schema", [{"type": "object"}, {}])
def test_null_document_is_json_null_on_both_tiers(spark, schema):
    """A NULL document validates as the JSON null on both tiers: a definite
    verdict with the schema's violations, never valid=NULL (which every
    `where(~valid)` sink would drop).  Records are compared without
    keyword_path, which the Arrow-Python tier leaves empty."""
    got = _both_tiers(spark, [None, "null"], schema)
    strip = {b: [(ok, [v[1:] for v in vs]) for ok, vs in rows] for b, rows in got.items()}
    assert strip["python"] == strip["variant"]
    assert strip["python"][0] == strip["python"][1]
    expected = (False, [([], "type", "expected object", "error")]) if schema else (True, [])
    assert strip["python"][0] == expected


def _three_tiers(spark, docs, schema, ddl, config=None):
    """`_both_tiers`, plus the typed tier: `with_validation` over the
    documents read into columns `ddl`."""
    got = _both_tiers(spark, docs, schema, config)
    typed = (spark.createDataFrame(list(enumerate(docs)), "i int, data_json string")
             .select("i", F.from_json("data_json", ddl).alias("t")).select("i", "t.*"))
    got["typed"] = [(r["valid"], [tuple(v) for v in r["violations"]])
                    for r in engine.with_validation(typed, schema, config=config).orderBy("i").collect()]
    return got


TUPLE = {"items": [{"type": "integer"}], "additionalItems": False}
X_INT = {"properties": {"x": {"type": "integer"}}}


@pytest.mark.parametrize("schema, doc, ddl, config, valid, records", [
    ({"minimum": 0}, "-1", "v long", {"minimum": "warnings"}, True, [(["v"], "minimum", "warning")]),
    # a warning never fails a combinator's probe
    ({"anyOf": [{"minimum": 5}, {"type": "string"}]}, "3", "v long", {"minimum": "warnings"}, True, []),
    # a single named type member routes by its type name, not by `type`
    (X_INT, '{"x": "nope"}', "v struct<x: string>", {"integer": "warnings"},
     True, [(["v", "x"], "type", "warning")]),
    (X_INT, '{"x": "nope"}', "v struct<x: string>", {"type": "warnings"},
     False, [(["v", "x"], "type", "error")]),
    # tuple additionalItems: false routes by `items`; its records differ in
    # shape between the tiers, so only `valid` is compared
    (TUPLE, "[1, 2]", "v array<long>", {"items": "warnings"}, True, None),
    (TUPLE, "[1, 2]", "v array<long>", {"additionalItems": "warnings"}, False, None),
])
def test_warnings_config_agrees_on_all_tiers(spark, schema, doc, ddl, config, valid, records):
    """A config that routes a keyword to warnings gives the Arrow-Python
    tier's verdict and records on the Variant and typed tiers too: the
    records compared as (instance_path, keyword, severity)."""
    got = _three_tiers(spark, ['{"v": %s}' % doc], {"properties": {"v": schema}}, ddl, config)
    for tier, [(ok, vs)] in got.items():
        assert ok is valid, (tier, got)
        if records is not None:
            assert [(ip, kw, sev) for _, ip, kw, _, sev in vs] == records, (tier, got)


def test_deferred_record_agrees_on_all_tiers(spark):
    """A `deferred` annotation is one record, the same on every tier, and
    never fails the document."""
    schema = {"properties": {"a": {"deferred": "check-later"}}}
    got = _three_tiers(spark, ['{"a": 1}'], schema, "a long")
    for tier, [(ok, vs)] in got.items():
        assert ok is True, (tier, got)
        assert [v[1:] for v in vs] == [(["a"], "deferred", '"check-later"', "deferred")], (tier, got)


@pytest.mark.xfail(strict=True, reason="try_parse_json accepts trailing text after a value")
def test_trailing_text_after_a_value_agrees_on_both_tiers(spark):
    got = _both_tiers(spark, ['{"a": 1} x'], {"type": "object"})
    assert got["python"] == got["variant"]


@pytest.mark.xfail(strict=True, reason="Spark rejects duplicate keys, json.loads keeps the last")
def test_duplicate_object_keys_agree_on_both_tiers(spark):
    got = _both_tiers(spark, ['{"a": 1, "a": 2}'], {"type": "object"})
    assert got["python"] == got["variant"]


def _paths(got):
    """{backend: [(valid, sorted (instance_path, message, severity) records)]}."""
    return {b: [(ok, sorted((tuple(ip), msg, sev) for _, ip, _, msg, sev in vs)) for ok, vs in rows]
            for b, rows in got.items()}


#: `hi` as written in a document: a number, absent, JSON null, or a
#: value whose cast to double would succeed although it is no number
HI = ["7", "3", "4.5", None, "null", '"2"', "true", '{"a": 1}', "[1]"]


def _with_hi(lo: str):
    """One document per `HI`, each with `lo` as written."""
    return ['{"lo": %s%s}' % (lo, "" if hi is None else f', "hi": {hi}') for hi in HI]


@pytest.mark.parametrize("pointer", ["#/hi", "1/hi"])
@pytest.mark.parametrize("lo", ["5", "5.5", '"x"'])
def test_data_bound_agrees_on_both_tiers(spark, pointer, lo):
    """A `$data` maximum read from the document compiles on the Variant
    tier and gives the Python tier's verdicts: an absent or null bound
    passes, a non-number bound is an error even where the value is no
    number, and a numeric bound is compared."""
    schema = {"properties": {"lo": {"maximum": {"$data": pointer}}}}
    got = _paths(_both_tiers(spark, _with_hi(lo), schema))
    assert got["python"] == got["variant"]
    fails = [ok is False for ok, _ in got["python"]]
    number = lo != '"x"'
    assert fails == [False, number, number, False, False, True, True, True, True]


@pytest.mark.parametrize("schema, docs", [
    # two steps back from a nested object, every comparator family
    ({"properties": {"a": {"properties": {
        "n": {"minimum": {"$data": "2/lim"}, "exclusiveMaximum": {"$data": "2/top"}},
        "s": {"minLength": {"$data": "2/lim"}},
        "xs": {"maxItems": {"$data": "2/lim"}},
        "o": {"minProperties": {"$data": "2/lim"}}}}}},
     ['{"a": {"n": 2, "s": "ab", "xs": [1, 2], "o": {"k": 1, "j": 2}}, "lim": 2, "top": 3}',
      '{"a": {"n": 1, "s": "a", "xs": [1, 2, 3], "o": {}}, "lim": 2, "top": 1}',
      '{"a": {"n": 2, "s": "ab"}, "lim": "2", "top": true}',
      '{"a": {"n": 2}, "lim": null}',
      '{"a": 5, "lim": 1}']),
    # a draft-4 exclusive flag, and a broken one
    ({"properties": {"lo": {"maximum": {"$data": "1/hi"}, "exclusiveMaximum": True}}},
     _with_hi("3")),
    ({"properties": {"lo": {"maximum": {"$data": "1/hi"}, "exclusiveMaximum": 5}}},
     _with_hi("3")),
    # the key form: an array index is a number, an object key is not
    ({"items": [{"minimum": {"$data": "0#"}}, {"minimum": {"$data": "0#"}}]},
     ["[0, 1]", "[5, 0]", '["a", "b"]']),
    ({"properties": {"k": {"minimum": {"$data": "0#"}}}}, ['{"k": 1}', '{"k": "x"}', "{}"]),
    # a digit step reads an array element or an object member
    ({"properties": {"lo": {"maximum": {"$data": "1/hi/0"}}}},
     ['{"lo": 5, "hi": [4]}', '{"lo": 5, "hi": {"0": 6}}', '{"lo": 5, "hi": {"1": 4}}']),
])
def test_data_bound_forms_agree_on_both_tiers(spark, schema, docs):
    got = _paths(_both_tiers(spark, docs, schema))
    assert got["python"] == got["variant"]
    assert any(ok is False for ok, _ in got["python"]) and any(ok for ok, _ in got["python"])


@pytest.mark.parametrize("schema, docs", [
    # a pointer through an array element named by a lambda variable
    ({"properties": {"xs": {"items": {"properties": {"lo": {"maximum": {"$data": "1/hi"}}}}}}},
     ['{"xs": [{"lo": 1, "hi": 2}]}', '{"xs": [{"lo": 1, "hi": 2}, {"lo": 3, "hi": 2}]}']),
    ({"properties": {"n": {"multipleOf": {"$data": "1/d"}}}}, ['{"n": 6, "d": 3}', '{"n": 7, "d": 3}']),
    ({"properties": {"n": {"enum": {"$data": "1/ok"}}}}, ['{"n": 1, "ok": [1, 2]}', '{"n": 3, "ok": [1]}']),
])
def test_data_consumers_without_variant_bound_fall_back(spark, schema, docs):
    """Only the comparators read a Variant bound: other `$data` consumers
    (and pointers through a lambda variable) still validate on the Python
    tier, with its verdicts."""
    from json_schema_clj_spark.plans.compiler import ColumnBackendUnsupported

    df = spark.createDataFrame(list(enumerate(docs)), "i int, data_json string")
    with pytest.raises(ColumnBackendUnsupported):
        engine.validate_json_column(df, schema, force_backend="variant")
    auto = engine.validate_json_column(df, schema).orderBy("i").collect()
    assert [r["valid"] for r in auto] == [True, False]
    assert [r["valid"] for r in auto] == [not engine.validate(schema, json.loads(d))["errors"] for d in docs]


def test_crossfield_schema_runs_without_python(spark):
    """A sibling-field `$data` bound (lo <= hi) compiles on the Variant
    tier: no Python node in the plan, and the inverted pair fails."""
    schema = {"type": "object", "required": ["lo", "hi"],
              "properties": {"lo": {"type": "integer", "minimum": 0, "maximum": {"$data": "1/hi"}},
                             "hi": {"type": "integer", "minimum": 0}}}
    df = _df(spark, [{"lo": 1, "hi": 2}, {"lo": 3, "hi": 2}])
    out = engine.validate_json_column(df, schema)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert [r["valid"] for r in out.collect()] == [True, False]
