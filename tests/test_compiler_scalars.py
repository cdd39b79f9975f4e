"""Column-backend scalar keyword semantics.

Each case pins a reference behavior (file:line cited in the compiler
docstrings): blank-string quirk, required-vs-nil, find-vs-match regexes,
numeric bounds with exclusivity, enum/const, multipleOf exactness.
"""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from json_schema_clj_spark import with_validation, violation_rows


def _validate(spark, rows, schema_sql, json_schema, config=None):
    df = spark.createDataFrame(rows, schema_sql)
    out = with_validation(df, json_schema, config=config)
    return out


def _valid_map(spark, rows, schema_sql, json_schema, key="k"):
    out = _validate(spark, rows, schema_sql, json_schema)
    return {r[key]: r["valid"] for r in out.collect()}


def test_type_string_blank_quirk(spark):
    # core.clj:183-191 — blank strings are NOT valid strings
    schema = {"properties": {"s": {"type": "string"}}}
    vm = _valid_map(
        spark,
        [("a", "hello"), ("b", ""), ("c", "   "), ("d", None)],
        "k string, s string",
        schema,
        )
    assert vm == {"a": True, "b": False, "c": False, "d": True}  # null skips property


def test_type_integer_not_double(spark):
    # core.clj:238-244 — 1.0 is not an integer
    schema = {"properties": {"x": {"type": "integer"}}}
    vm = _valid_map(spark, [("a", 1.0)], "k string, x double", schema)
    assert vm == {"a": False}
    vm = _valid_map(spark, [("a", 1)], "k string, x long", schema)
    assert vm == {"a": True}


def test_minimum_maximum_exclusive(spark):
    schema = {"properties": {"x": {"minimum": 2, "maximum": 5}}}
    vm = _valid_map(spark, [("a", 1), ("b", 2), ("c", 5), ("d", 6)], "k string, x long", schema)
    assert vm == {"a": False, "b": True, "c": True, "d": False}
    schema = {"properties": {"x": {"minimum": 2, "exclusiveMinimum": True}}}
    vm = _valid_map(spark, [("a", 2), ("b", 3)], "k string, x long", schema)
    assert vm == {"a": False, "b": True}
    # draft-6 numeric form
    schema = {"properties": {"x": {"exclusiveMinimum": 2}}}
    vm = _valid_map(spark, [("a", 2), ("b", 3)], "k string, x long", schema)
    assert vm == {"a": False, "b": True}


def test_bounds_pass_non_applicable(spark):
    # comparator ladder: non-numbers pass numeric bounds (core.clj:93-124)
    schema = {"properties": {"x": {"minimum": 2}}}
    vm = _valid_map(spark, [("a", "str")], "k string, x string", schema)
    assert vm == {"a": True}


def test_pattern_find_semantics(spark):
    # core.clj:1354-1377 — re-find, not full match
    schema = {"properties": {"s": {"pattern": "b.b"}}}
    vm = _valid_map(spark, [("a", "xxbobxx"), ("b", "nope")], "k string, s string", schema)
    assert vm == {"a": True, "b": False}


def test_enum_and_const(spark):
    schema = {"properties": {"f": {"enum": ["jpeg", "png"]}, "n": {"const": 3}}}
    vm = _valid_map(
        spark,
        [("a", "jpeg", 3), ("b", "bmp", 3), ("c", "png", 4)],
        "k string, f string, n long",
        schema,
    )
    assert vm == {"a": True, "b": False, "c": False}


def test_multiple_of(spark):
    schema = {"properties": {"x": {"multipleOf": 3}}}
    vm = _valid_map(spark, [("a", 9), ("b", 10), ("c", 0)], "k string, x long", schema)
    assert vm == {"a": True, "b": False, "c": True}  # 0 always passes (core.clj:429)
    schema = {"properties": {"x": {"multipleOf": 0.5}}}
    vm = _valid_map(spark, [("a", 1.5), ("b", 1.3)], "k string, x double", schema)
    assert vm == {"a": True, "b": False}


def test_multiple_of_exact_rational_boundary(spark):
    # Pins the documented divergence from is-divider? (core.clj:419-421):
    # the reference matches the printed double quotient, so 0.3/0.1
    # (printed 2.9999999999999996) is invalid there; exact-rational at the
    # printed decimal value (0.3/0.1 = 3 exactly) is valid here, and the
    # Column backend and driver backend must agree with EACH OTHER.
    from json_schema_clj_spark.pyvalidator.validator import compile_schema

    schema = {"properties": {"x": {"multipleOf": 0.1}}}
    vm = _valid_map(
        spark, [("a", 0.3), ("b", 0.35), ("c", 7.5e10)], "k string, x double", schema
    )
    assert vm == {"a": True, "b": False, "c": True}
    v = compile_schema(schema)
    assert not v({"x": 0.3})["errors"]
    assert v({"x": 0.35})["errors"]
    assert not v({"x": 7.5e10})["errors"]


def test_length_codepoints(spark):
    # codepoint length parity: 😀 is ONE codepoint (core.clj:1060-1062)
    schema = {"properties": {"s": {"minLength": 2, "maxLength": 3}}}
    vm = _valid_map(
        spark,
        [("a", "ab"), ("b", "a"), ("c", "abcd"), ("d", "😀😀")],
        "k string, s string",
        schema,
    )
    assert vm == {"a": True, "b": False, "c": False, "d": True}


def test_required_nil_is_missing(spark):
    # has-property? treats nil as missing (core.clj:852-854, issue-4)
    schema = {"required": ["s"]}
    vm = _valid_map(spark, [("a", "x"), ("b", None)], "k string, s string", schema)
    assert vm == {"a": True, "b": False}


def test_warnings_routing(spark):
    # {:config {<keyword> :warnings}} reroutes errors → warnings
    # (core.clj:42-45, custom_extensions_test.clj:91-128)
    schema = {"properties": {"x": {"minimum": 10}}}
    out = _validate(spark, [("a", 1)], "k string, x long", schema, config={"minimum": "warnings"})
    rows = out.collect()
    assert rows[0]["valid"] is True  # warnings don't fail the document
    assert [v["severity"] for v in rows[0]["violations"]] == ["warning"]
    # nor a combinator's probe: anyOf passes on its warned branch
    schema = {"properties": {"x": {"anyOf": [{"minimum": 10}, {"type": "string"}]}}}
    out = _validate(spark, [("a", 1)], "k string, x long", schema, config={"minimum": "warnings"})
    assert [(r["valid"], r["violations"]) for r in out.collect()] == [(True, [])]
    # a single named type member routes by its type name; the record keeps `type`
    schema = {"properties": {"x": {"type": "string"}}}
    for config, severity in (({"string": "warnings"}, "warning"), ({"type": "warnings"}, "error")):
        [row] = _validate(spark, [("a", 1)], "k string, x long", schema, config=config).collect()
        assert row["valid"] is (severity == "warning")
        assert [(v["keyword"], v["severity"]) for v in row["violations"]] == [("type", severity)]


def test_violation_paths(spark):
    schema = {"properties": {"x": {"minimum": 10}}, "required": ["s"]}
    out = _validate(spark, [("a", 1, None)], "k string, x long, s string", schema)
    v = violation_rows(out, ["k"]).collect()
    got = {(tuple(r["keyword_path"]), tuple(r["instance_path"]), r["keyword"]) for r in v}
    assert (("properties", "x", "minimum"), ("x",), "minimum") in got
    assert (("required",), (), "required") in got


def test_violation_rows_ordinal(spark):
    # with_ordinal: v_ord is the violation's position within its source
    # row's ordered array — v_ord = 0 marks exactly one row per failing
    # document (the count_distinct-free failing-row rollup relies on this)
    schema = {"properties": {"x": {"minimum": 10}}, "required": ["s"]}
    out = _validate(
        spark, [("a", 1, None), ("b", 20, "ok"), ("c", 0, None)],
        "k string, x long, s string", schema,
    )
    v = violation_rows(out, ["k"], with_ordinal=True).collect()
    by_key = {(r["k"], r["keyword"]): r["v_ord"] for r in v}
    assert len(v) == 4  # a: minimum+required, c: minimum+required
    # within each failing row, ordinals are 0..n-1 in check order
    for k in ("a", "c"):
        assert sorted(ordv for (kk, _), ordv in by_key.items() if kk == k) == [0, 1]
    n_fail = sum(1 for r in v if r["v_ord"] == 0)
    assert n_fail == 2
    # default stays ordinal-free (sink schema unchanged for existing users)
    assert "v_ord" not in violation_rows(out, ["k"]).columns


def test_combinators(spark):
    schema = {
        "properties": {
            "x": {"anyOf": [{"minimum": 10}, {"maximum": 2}]},
            "y": {"oneOf": [{"minimum": 5}, {"multipleOf": 2}]},
            "z": {"not": {"minimum": 5}},
        }
    }
    vm = _valid_map(
        spark,
        [("a", 1, 6, 1), ("b", 5, 4, 7), ("c", 11, 10, 1)],
        "k string, x long, y long, z long",
        schema,
    )
    # a: x=1 anyOf ok (<=2); y=6: >=5 and mult2 → both → oneOf fail... wait 6>=5 and 6%2=0 → 2 valid → fail
    assert vm["a"] is False
    # b: x=5 fails anyOf; y=4: only mult2 → ok; z=7 fails not
    assert vm["b"] is False
    # c: x=11 ok; y=10: both → fail? 10>=5 and 10%2==0 → 2 → fail
    assert vm["c"] is False
    vm = _valid_map(spark, [("d", 11, 7, 1)], "k string, x long, y long, z long", schema)
    assert vm["d"] is True  # y=7: only >=5 matches → exactly one


def test_if_then_else(spark):
    schema = {
        "if": {"properties": {"f": {"const": "png"}}},
        "then": {"properties": {"x": {"minimum": 10}}},
        "else": {"properties": {"x": {"maximum": 5}}},
    }
    vm = _valid_map(
        spark,
        [("a", "png", 11), ("b", "png", 1), ("c", "jpeg", 1), ("d", "jpeg", 11)],
        "k string, f string, x long",
        schema,
    )
    assert vm == {"a": True, "b": False, "c": True, "d": False}


def test_dependencies(spark):
    schema = {"dependencies": {"a": ["b"]}}
    vm = _valid_map(
        spark,
        [("r1", 1, 2), ("r2", 1, None), ("r3", None, None)],
        "k string, a long, b long",
        schema,
    )
    assert vm == {"r1": True, "r2": False, "r3": True}


def test_exclusive_properties(spark):
    # custom keyword (core.clj:532-552)
    schema = {"exclusiveProperties": [{"properties": ["a", "b"], "required": True}]}
    vm = _valid_map(
        spark,
        [("r1", 1, None), ("r2", 1, 2), ("r3", None, None)],
        "k string, a long, b long",
        schema,
    )
    assert vm == {"r1": True, "r2": False, "r3": False}


def test_items_and_array_keywords(spark):
    schema = {
        "properties": {
            "xs": {
                "type": "array",
                "items": {"minimum": 0},
                "minItems": 1,
                "maxItems": 4,
                "uniqueItems": True,
            }
        }
    }
    vm = _valid_map(
        spark,
        [("a", [1, 2]), ("b", [-1]), ("c", []), ("d", [1, 1]), ("e", [1, 2, 3, 4, 5])],
        "k string, xs array<long>",
        schema,
    )
    assert vm == {"a": True, "b": False, "c": False, "d": False, "e": False}


def test_items_index_in_path(spark):
    schema = {"properties": {"xs": {"items": {"minimum": 0}}}}
    out = _validate(spark, [("a", [1, -5, 2, -7])], "k string, xs array<long>", schema)
    v = violation_rows(out, ["k"]).collect()
    paths = sorted(tuple(r["instance_path"]) for r in v)
    assert paths == [("xs", "1"), ("xs", "3")]


def test_contains(spark):
    schema = {"properties": {"xs": {"contains": {"minimum": 10}}}}
    vm = _valid_map(spark, [("a", [1, 20]), ("b", [1, 2])], "k string, xs array<long>", schema)
    assert vm == {"a": True, "b": False}


def test_tuple_items_additional(spark):
    schema = {
        "properties": {
            "xs": {"items": [{"minimum": 0}, {"maximum": 5}], "additionalItems": False}
        }
    }
    vm = _valid_map(
        spark,
        [("a", [1, 2]), ("b", [-1, 2]), ("c", [1, 9]), ("d", [1, 2, 3]), ("e", [1])],
        "k string, xs array<long>",
        schema,
    )
    assert vm == {"a": True, "b": False, "c": False, "d": False, "e": True}


def test_data_pointer_sibling(spark):
    # v5 $data: bound read from a sibling value (core.clj:65-91)
    schema = {"properties": {"lo": {"maximum": {"$data": "1/hi"}}}}
    vm = _valid_map(
        spark,
        [("a", 1, 5), ("b", 9, 5), ("c", 1, None)],
        "k string, lo long, hi long",
        schema,
    )
    assert vm == {"a": True, "b": False, "c": True}  # nil bound passes


def test_discriminator(spark):
    # custom keyword: dispatch to #/definitions/<value> (core.clj:519-530)
    schema = {
        "discriminator": "rt",
        "definitions": {
            "User": {"properties": {"x": {"minimum": 10}}},
            "Role": {"properties": {"x": {"maximum": 5}}},
        },
    }
    vm = _valid_map(
        spark,
        [("a", "User", 11), ("b", "User", 1), ("c", "Role", 1), ("d", "Ghost", 1)],
        "k string, rt string, x long",
        schema,
    )
    assert vm == {"a": True, "b": False, "c": True, "d": False}


def test_ref_definitions(spark):
    schema = {
        "properties": {"x": {"$ref": "#/definitions/pos"}},
        "definitions": {"pos": {"minimum": 0}},
    }
    vm = _valid_map(spark, [("a", 5), ("b", -5)], "k string, x long", schema)
    assert vm == {"a": True, "b": False}


def test_type_formats(spark):
    schema = {
        "properties": {
            "d": {"type": "date"},
            "u": {"type": "uuid"},
            "e": {"type": "email"},
        }
    }
    vm = _valid_map(
        spark,
        [
            ("a", "2024-01-01", "123e4567-e89b-12d3-a456-426614174000", "x@y.com"),
            ("b", "not-a-date", "nope", "bad"),
        ],
        "k string, d string, u string, e string",
        schema,
    )
    assert vm == {"a": True, "b": False}


def test_false_schema(spark):
    vm = _valid_map(spark, [("a", 1)], "k string, x long", {"properties": {"x": False}})
    assert vm == {"a": False}
    vm = _valid_map(spark, [("a", 1)], "k string, x long", {"properties": {"x": True}})
    assert vm == {"a": True}


def test_if_boolean_then_else_coerce_to_noop(spark):
    # (or th true) quirk, core.clj:735-736: then/else of FALSE is a no-op
    # branch, never an always-fail schema
    schema = {"properties": {"x": {"if": {"minimum": 0}, "then": False}}}
    vm = _valid_map(spark, [("a", 1), ("b", -1)], "k string, x long", schema)
    assert vm == {"a": True, "b": True}
    schema = {"properties": {"x": {"if": {"minimum": 0}, "else": False}}}
    vm = _valid_map(spark, [("a", 1), ("b", -1)], "k string, x long", schema)
    assert vm == {"a": True, "b": True}


def test_tuple_items_additional_true_disables_validation(spark):
    # core.clj:1462 quirk: `(= true ai)` short-circuits before any
    # positional validator runs
    schema = {"properties": {"xs": {"items": [{"type": "string"}],
                                    "additionalItems": True}}}
    vm = _valid_map(
        spark, [("a", [5]), ("b", [7, 8])],
        "k string, xs array<long>", schema,
    )
    assert vm == {"a": True, "b": True}
    # without the ai=true rider the tuple IS enforced
    schema2 = {"properties": {"xs": {"items": [{"type": "string"}]}}}
    vm2 = _valid_map(spark, [("a", [5])], "k string, xs array<long>", schema2)
    assert vm2 == {"a": False}


def test_tuple_items_on_non_array_column_errors(spark):
    # core.clj:1451-1452 quirk: TUPLE items on a non-sequential value is
    # an error; the single-schema form passes through
    tuple_schema = {"properties": {"x": {"items": [{"type": "integer"}]}}}
    vm = _valid_map(spark, [("a", "hello")], "k string, x string", tuple_schema)
    assert vm == {"a": False}
    single_schema = {"properties": {"x": {"items": {"type": "integer"}}}}
    vm2 = _valid_map(spark, [("a", "hello")], "k string, x string", single_schema)
    assert vm2 == {"a": True}


def test_format_bounds_unknown_guard_and_time_coercion(spark):
    # core.clj:1114-1140: format "unknown" compiles NO formatM* check;
    # format "time" strips the zone suffix from value and bound
    unknown = {"properties": {"s": {"format": "unknown", "formatMaximum": "abc"}}}
    vm = _valid_map(spark, [("a", "zzz")], "k string, s string", unknown)
    assert vm == {"a": True}
    timed = {"properties": {"s": {"format": "time", "formatMaximum": "10:00:00"}}}
    vm2 = _valid_map(
        spark, [("a", "10:00:00Z"), ("b", "10:00:01Z"), ("c", "09:59:59+01:00")],
        "k string, s string", timed,
    )
    assert vm2 == {"a": True, "b": False, "c": True}


def test_const_enum_cross_type_static_false(spark):
    """Cross-JSON-type const/enum on a typed column is plain `false` under
    Clojure `=` (0 ≠ false, "x" ≠ ["x"]) — the compiler must emit a
    constant-false equality, not let Spark coerce (a boolean column would
    cast "true" to true) or abort analysis (eqNullSafe against an
    array<string> column is a DATATYPE_MISMATCH).  Found by the round-5
    $ref-biased differential fuzz (seed 10000022): a registry-shadowed
    $ref to a contains-bearing definition lands `const:"x"` directly on
    the tags array column."""
    # scalar const against an array column: analysis used to abort
    arr_schema = {"properties": {"xs": {"const": "x"}}}
    vm = _valid_map(
        spark, [("a", ["x"]), ("b", None)], "k string, xs array<string>", arr_schema
    )
    assert vm == {"a": False, "b": True}  # null = missing property, passes
    # string const against a boolean column: coercion would say true
    bool_schema = {"properties": {"f": {"const": "true"}}}
    vm2 = _valid_map(
        spark, [("a", True), ("b", False)], "k string, f boolean", bool_schema
    )
    assert vm2 == {"a": False, "b": False}
    # numeric const against a boolean column (Clojure 1 != true)
    one_schema = {"properties": {"f": {"const": 1}}}
    vm3 = _valid_map(spark, [("a", True)], "k string, f boolean", one_schema)
    assert vm3 == {"a": False}
    # enum keeps only type-compatible members; none left -> plain false
    enum_schema = {"properties": {"xs": {"enum": ["x", 1]}}}
    vm4 = _valid_map(
        spark, [("a", ["x"])], "k string, xs array<string>", enum_schema
    )
    assert vm4 == {"a": False}
    # mixed enum on a scalar column still honours the compatible members
    mixed = {"properties": {"n": {"enum": ["x", 3]}}}
    vm5 = _valid_map(spark, [("a", 3), ("b", 4)], "k string, n long", mixed)
    assert vm5 == {"a": True, "b": False}
    # $data enum of arrays with another element type: only [] == [] holds,
    # as in the const branch (Clojure `=` ignores the element type of an
    # empty vector)
    data_enum = {"properties": {"xs": {"enum": {"$data": "1/opts"}}}}
    vm6 = _valid_map(
        spark,
        [("a", [], [[]]), ("b", [1], [[]]), ("c", [], [["x"]]), ("d", [], [["x"], []])],
        "k string, xs array<long>, opts array<array<string>>",
        data_enum,
    )
    assert vm6 == {"a": True, "b": False, "c": False, "d": True}


def test_enum_data_nil_ref_passes_before_broken_enum(spark):
    """enum with a $data pointer at a NON-array sibling: a nil ref passes
    BEFORE the could-not-enum error fires (core.clj:487-489 cond order);
    only a PRESENT non-sequential value is the broken-enum error.  Found
    by the round-5 refdata-biased differential fuzz (seeds 20001008,
    20001255): the Column backend emitted a static constant-false for the
    whole shape, failing rows whose ref was missing."""
    schema = {"properties": {"name": {"enum": {"$data": "1/score"}}}}
    vm = _valid_map(
        spark,
        [("a", "x", None), ("b", "x", 1.5)],
        "k string, name string, score double",
        schema,
    )
    assert vm == {"a": True, "b": False}
