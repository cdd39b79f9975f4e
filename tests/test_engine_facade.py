"""Hybrid engine facade: backend dispatch between the Variant tier and the
Python tier, parity between backends on the same documents, the compile
memo, and Catalyst column pruning through the validation machinery."""

import json

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
