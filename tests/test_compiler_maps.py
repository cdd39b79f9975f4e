"""Column-backend object keywords over MapType and closed-world StructType
targets: patternProperties, additionalProperties, propertyNames,
min/maxProperties, patternRequired."""

from pyspark.sql import functions as F

from json_schema_clj_spark import with_validation, violation_rows


def _vm(spark, rows, ddl, schema, key="k"):
    out = with_validation(spark.createDataFrame(rows, ddl), schema)
    return {r[key]: r["valid"] for r in out.collect()}


def test_pattern_properties_map(spark):
    schema = {"properties": {"m": {"patternProperties": {"^f": {"minimum": 0}}}}}
    vm = _vm(
        spark,
        [("a", {"foo": 1, "bar": -5}), ("b", {"foo": -1}), ("c", {"bar": -1})],
        "k string, m map<string,long>",
        schema,
    )
    assert vm == {"a": True, "b": False, "c": True}


def test_pattern_properties_violation_key_path(spark):
    schema = {"properties": {"m": {"patternProperties": {"^f": {"minimum": 0}}}}}
    df = spark.createDataFrame([("a", {"fx": -1, "fy": 2})], "k string, m map<string,long>")
    out = with_validation(df, schema)
    v = violation_rows(out, ["k"]).collect()
    assert [list(r["instance_path"]) for r in v] == [["m", "fx"]]


def test_additional_properties_false_map(spark):
    schema = {
        "properties": {
            "m": {"properties": {"a": {}}, "patternProperties": {"^p": {}},
                  "additionalProperties": False}
        }
    }
    vm = _vm(
        spark,
        [("ok", {"a": 1, "p9": 2}), ("bad", {"a": 1, "z": 2})],
        "k string, m map<string,long>",
        schema,
    )
    assert vm == {"ok": True, "bad": False}


def test_additional_properties_schema_map(spark):
    schema = {
        "properties": {
            "m": {"properties": {"a": {}}, "additionalProperties": {"maximum": 10}}
        }
    }
    vm = _vm(
        spark,
        [("ok", {"a": 99, "z": 5}), ("bad", {"a": 1, "z": 50})],
        "k string, m map<string,long>",
        schema,
    )
    assert vm == {"ok": True, "bad": False}


def test_additional_properties_struct_closed_world(spark):
    # root-level: columns beyond `properties` are the extras
    schema = {"properties": {"k": {}, "a": {}}, "additionalProperties": False}
    vm = _vm(
        spark,
        [("r1", 1, None), ("r2", 1, 5)],
        "k string, a long, z long",
        schema,
    )
    assert vm == {"r1": True, "r2": False}  # null z counts as absent


def test_property_names_map(spark):
    schema = {"properties": {"m": {"propertyNames": {"maxLength": 3}}}}
    vm = _vm(
        spark,
        [("ok", {"abc": 1}), ("bad", {"abcd": 1})],
        "k string, m map<string,long>",
        schema,
    )
    assert vm == {"ok": True, "bad": False}


def test_min_max_properties_map(spark):
    schema = {"properties": {"m": {"minProperties": 1, "maxProperties": 2}}}
    vm = _vm(
        spark,
        [("a", {}), ("b", {"x": 1}), ("c", {"x": 1, "y": 2, "z": 3})],
        "k string, m map<string,long>",
        schema,
    )
    assert vm == {"a": False, "b": True, "c": False}


def test_min_max_properties_struct(spark):
    # struct: count of non-null fields
    schema = {"minProperties": 2}
    vm = _vm(
        spark,
        [("r1", 1, None), ("r2", 1, 2)],
        "k string, a long, b long",
        schema,
    )
    assert vm == {"r1": True, "r2": True}  # k + a non-null = 2 either way
    schema = {"minProperties": 3}
    vm = _vm(spark, [("r1", 1, None), ("r2", 1, 2)], "k string, a long, b long", schema)
    assert vm == {"r1": False, "r2": True}


def test_pattern_required(spark):
    schema = {"properties": {"m": {"patternRequired": ["^f", "o$"]}}}
    vm = _vm(
        spark,
        [("ok", {"foo": 1}), ("bad", {"bar": 1}), ("half", {"fx": 1})],
        "k string, m map<string,long>",
        schema,
    )
    assert vm == {"ok": True, "bad": False, "half": False}


def test_pattern_groups_map(spark):
    # value validation + matching-key count bounds on a MapType target —
    # regression: the Column backend used to DROP patternGroups silently
    # (reference validates it, core.clj:613-646)
    schema = {"properties": {"m": {"patternGroups": {
        "^n_": {"schema": {"type": "integer"}, "minimum": 1, "maximum": 2}
    }}}}
    vm = _vm(
        spark,
        [
            ("ok", {"n_rows": 3, "other": 0}),
            ("bad_value", {"n_rows": -1, "n_bad": 7}),  # count ok; need int values
            ("too_few", {"other": 1}),
            ("too_many", {"n_a": 1, "n_b": 2, "n_c": 3}),
        ],
        "k string, m map<string,long>",
        schema,
    )
    assert vm == {"ok": True, "bad_value": True, "too_few": False, "too_many": False}
    # value-schema violation (type) via a string-valued map
    schema2 = {"properties": {"m": {"patternGroups": {"^n_": {"schema": {"minLength": 2}}}}}}
    vm2 = _vm(
        spark,
        [("ok", {"n_x": "ab"}), ("bad", {"n_x": "a"}), ("ignored", {"zz": "a"})],
        "k string, m map<string,string>",
        schema2,
    )
    assert vm2 == {"ok": True, "bad": False, "ignored": True}


def test_pattern_groups_struct(spark):
    schema = {"patternGroups": {"^n_": {"schema": {"minimum": 0}, "minimum": 2}}}
    vm = _vm(
        spark,
        [("r1", 1, 2), ("r2", -1, 2), ("r3", None, 2)],
        "k string, n_a long, n_b long",
        schema,
    )
    # r1: both non-null, count 2, values ok; r2: bad value; r3: count 1 < 2
    assert vm == {"r1": True, "r2": False, "r3": False}


def test_property_names_skips_absent_struct_fields(spark):
    """Differential-fuzz regression (seed 4000765): a struct target
    conflates absent/null, so a NULL field is an absent key and its NAME
    must not be validated; only present fields' names are checked."""
    from json_schema_clj_spark.operators.validate import with_validation
    import pyspark.sql.functions as SF

    schema = {
        "type": "object",
        "properties": {
            "meta": {"type": "object", "propertyNames": {"pattern": "^a$"}}
        },
    }
    df = spark.createDataFrame(
        [((None, None),), ((1, None),), ((None, "x"),), (None,)],
        "meta struct<a:bigint, b:string>",
    )
    got = [r["valid"] for r in with_validation(df, schema).collect()]
    # {}: no keys -> valid; {a:1}: 'a' matches -> valid;
    # {b:'x'}: 'b' fails ^a$ -> invalid; missing meta -> valid
    assert got == [True, True, False, True]
    bad = (
        with_validation(df, schema)
        .where(~SF.col("valid"))
        .select(SF.explode("violations").alias("v"))
        .collect()
    )
    assert "b" in bad[0]["v"]["message"]


def test_data_const_map_key_types_must_match(spark):
    """Maps with different key types are never Clojure `=` (a string key
    never equals an integer key), so a $data const between them is the
    static-false branch — not a runtime comparison that aborts analysis
    with DATATYPE_MISMATCH."""
    from pyspark.sql import types as T

    from json_schema_clj_spark.plans.compiler import _dtype_compatible

    long_vals = T.MapType(T.StringType(), T.LongType())
    assert not _dtype_compatible(long_vals, T.MapType(T.IntegerType(), T.LongType()))
    assert _dtype_compatible(long_vals, T.MapType(T.StringType(), T.IntegerType()))
    schema = {"properties": {"m": {"const": {"$data": "1/n"}}}}
    vm = _vm(
        spark,
        [("both_null", None, None), ("both_set", {"1": 1}, {1: 1})],
        "k string, m map<string,long>, n map<int,long>",
        schema,
    )
    assert vm == {"both_null": True, "both_set": False}
