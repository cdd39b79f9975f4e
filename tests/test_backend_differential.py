"""Differential fuzz: for seeded random (schema, rows) pairs, the Catalyst
compiler over the typed table, the Catalyst compiler over Variant JSON, and
the Python backend (Arrow UDF + driver-side) must agree on every row's
validity.

Null-valued keys are dropped from the JSON docs: Spark structs conflate
absent/null (exactly the reference's has-property? view), so that is the
common semantic surface.
"""

import json
import random

from pyspark.sql import types as T

from json_schema_clj_spark import engine

META_SCHEMA = T.StructType(
    [T.StructField("a", T.LongType()), T.StructField("b", T.StringType())]
)

COLS = {
    "name": T.StringType(),
    "age": T.LongType(),
    "score": T.DoubleType(),
    "flag": T.BooleanType(),
    "tags": T.ArrayType(T.StringType()),
    "meta": META_SCHEMA,
}

TABLE_SCHEMA = T.StructType([T.StructField(k, v) for k, v in COLS.items()])


def rand_subschema(rng: random.Random, col: str):
    t = COLS[col]
    opts = []
    if isinstance(t, T.StructType):
        # nested object: properties over the struct fields (exercises the
        # Column backend's struct traversal + nested $data base paths)
        inner = {}
        if rng.random() < 0.8:
            inner["a"] = rng.choice(
                [
                    {"type": "integer"},
                    {"minimum": rng.randint(-4, 4)},
                    {"maximum": rng.randint(-4, 4)},
                    {"enum": rng.sample([0, 1, 2, -3], k=2)},
                    {"minimum": {"$data": "2/age"}},
                ]
            )
        if rng.random() < 0.6:
            inner["b"] = rng.choice(
                [
                    {"type": "string"},
                    {"minLength": rng.randint(0, 3)},
                    {"pattern": rng.choice(["^m", "[ab]"])},
                    {"const": {"$data": "2/name"}},
                ]
            )
        sub = {"type": "object", "properties": inner or {"a": {"type": "integer"}}}
        if rng.random() < 0.3:
            sub["required"] = rng.sample(["a", "b"], k=rng.randint(1, 2))
        r = rng.random()
        if r < 0.1:
            # only the declared keys are allowed; a doc carrying the other
            # meta field must fail
            sub["additionalProperties"] = False
        elif r < 0.2:
            sub["patternProperties"] = {"^b": rng.choice(
                [{"type": "string"}, {"minLength": 2}]
            )}
        elif r < 0.28:
            sub["propertyNames"] = {"pattern": rng.choice(["^a$", "^[ab]$"])}
        elif r < 0.36:
            sub["maxProperties"] = rng.randint(0, 2)
        elif r < 0.42:
            # v5 patternGroups: count-bounded match groups over struct keys
            sub["patternGroups"] = {"^[ab]": {"minimum": rng.randint(1, 2)}}
        if rng.random() < 0.2:
            sub = {"anyOf": [sub, {"required": ["a", "b"]}]}
        return sub
    if isinstance(t, T.StringType):
        opts = [
            {"type": "string"},
            {"minLength": rng.randint(0, 4)},
            {"maxLength": rng.randint(1, 6)},
            {"pattern": rng.choice(["^a", "b$", "c.d", "[xyz]"])},
            {"enum": rng.sample(["a", "bb", "ccc", "ab", "zz"], k=rng.randint(1, 3))},
            {"const": rng.choice(["a", "bb"])},
        ]
    elif isinstance(t, T.LongType):
        opts = [
            {"type": "integer"},
            {"minimum": rng.randint(-5, 5)},
            {"maximum": rng.randint(-5, 5)},
            {"minimum": rng.randint(-5, 5), "exclusiveMinimum": True},
            {"exclusiveMaximum": rng.randint(-5, 5)},
            # broken forms the reference rejects per-value: a numeric flag
            # riding its bound, and a bare boolean flag (no absorbing bound)
            {"maximum": rng.randint(-5, 5), "exclusiveMaximum": rng.randint(-5, 5)},
            {"exclusiveMinimum": rng.choice([True, False])},
            {"multipleOf": rng.randint(1, 4)},
            {"enum": rng.sample([0, 1, 2, 3, -1], k=rng.randint(1, 3))},
        ]
    elif isinstance(t, T.DoubleType):
        opts = [
            {"type": "number"},
            {"minimum": rng.randint(-3, 3) + 0.5},
            {"maximum": rng.randint(-3, 3) + 0.5},
        ]
    elif isinstance(t, T.BooleanType):
        opts = [{"type": "boolean"}, {"const": rng.choice([True, False])}]
    elif isinstance(t, T.ArrayType):
        opts = [
            {"type": "array"},
            {"minItems": rng.randint(0, 2)},
            {"maxItems": rng.randint(1, 3)},
            {"uniqueItems": True},
            {"items": {"minLength": rng.randint(0, 3)}},
            {"contains": {"const": "x"}},
            # tuple form + additionalItems (draft-3/4 array semantics)
            {"items": [{"const": "x"}, {"minLength": 1}],
             "additionalItems": rng.choice([False, {"maxLength": 1}])},
            # custom subset keyword: every element from the allowed set
            {"subset": rng.sample(["x", "y", "z", "w", "a"], k=rng.randint(2, 4))},
        ]
    if isinstance(t, T.StringType) and rng.random() < 0.15:
        opts.append({"format": rng.choice(["email", "ipv4", "hostname", "date"])})
    sub = {}
    for _ in range(rng.randint(1, 2)):
        sub.update(rng.choice(opts))
    r = rng.random()
    if r < 0.15:
        sub = {"anyOf": [sub, rng.choice(opts)]}
    elif r < 0.27:
        sub = {"allOf": [sub, rng.choice(opts)]}
    elif r < 0.37:
        sub = {"oneOf": [sub, rng.choice(opts)]}
    elif r < 0.47:
        sub = {"not": sub}
    elif r < 0.55:
        sub = {"if": rng.choice(opts), "then": sub, "else": rng.choice(opts)}
    return sub


def rand_schema(rng: random.Random):
    cols = rng.sample(list(COLS), k=rng.randint(1, 4))
    schema = {"type": "object", "properties": {c: rand_subschema(rng, c) for c in cols}}
    req = [c for c in cols if rng.random() < 0.3]
    if req:
        schema["required"] = req
    if rng.random() < 0.3:
        a, b = rng.sample(list(COLS), k=2)
        schema["dependencies"] = {a: [b]}
    if rng.random() < 0.2:
        # $data cross-field bound: age >= score read from the sibling value
        # (relative pointer: up one level from /age, down to /score)
        schema.setdefault("properties", {}).setdefault("age", {})
        schema["properties"]["age"] = dict(schema["properties"]["age"])
        schema["properties"]["age"]["minimum"] = {"$data": "1/score"}
    if rng.random() < 0.15:
        schema = {
            "switch": [
                {"if": {"required": ["flag"]}, "then": schema, "continue": False},
                {"then": True},
            ]
        }
    r = rng.random()
    if r < 0.12:
        # internal $ref through definitions — the pointer-decode + registry
        # path on an otherwise random schema
        schema = {"definitions": {"root": schema}, "$ref": "#/definitions/root"}
    elif r < 0.22:
        # draft-3 extends: conjunction with an extra required column
        schema = dict(schema)
        schema["extends"] = {"required": [rng.choice(list(COLS))]}
    elif r < 0.3:
        # schema-form dependencies: presence of one column imposes a schema
        a, b = rng.sample(list(COLS), k=2)
        schema = dict(schema)
        schema["dependencies"] = {a: {"required": [b]}}
    elif r < 0.36:
        # draft-3 disallow of a random type union member
        schema = {"allOf": [schema, {"disallow": rng.choice(["string", "boolean"])}]}
    return schema


def rand_row(rng: random.Random):
    def maybe(v):
        return None if rng.random() < 0.25 else v

    return (
        # "\t\n" earned its slot: the blank-string quirk used Spark trim()
        # (space-only) until a whitespace-only fixture caught it — keep
        # non-space whitespace and non-ASCII in the differential net
        maybe(rng.choice(["a", "bb", "ccc", "", "  ", "\t\n", "é", "日本", "xcd", "zz", "m1"])),
        maybe(rng.randint(-6, 6)),
        maybe(rng.choice([-2.5, 0.0, 1.5, 3.5])),
        maybe(rng.choice([True, False])),
        maybe(rng.choice([[], ["x"], ["a", "a"], ["x", "y", "z", "w"]])),
        maybe((maybe(rng.randint(-4, 4)), maybe(rng.choice(["m1", "bb", "", "zz"])))),
    )


def row_to_doc(row):
    d = dict(zip(COLS, row))
    if d.get("meta") is not None:
        # struct null fields conflate with absent (module docstring): drop them
        d["meta"] = {k: v for k, v in zip(("a", "b"), d["meta"]) if v is not None}
    return {k: v for k, v in d.items() if v is not None}


def test_differential_backends(spark):
    rng = random.Random(20260816)
    n_schemas, n_rows = 20, 40
    for si in range(n_schemas):
        schema = rand_schema(rng)
        rows = [rand_row(rng) for _ in range(n_rows)]
        docs = [row_to_doc(r) for r in rows]

        # 1. driver-side Python backend (ground truth)
        v = engine.compile(schema)
        py_valid = [not v(d)["errors"] for d in docs]

        # 2. Column backend over the typed table
        df = spark.createDataFrame(rows, TABLE_SCHEMA)
        col_out = engine.with_validation(df, schema)
        col_valid = [r["valid"] for r in col_out.collect()]

        # 3. Arrow-batched Python backend over JSON strings
        jdf = spark.createDataFrame([(json.dumps(d),) for d in docs], "data_json string")
        udf_out = engine.validate_json_column(jdf, schema, force_backend="python")
        udf_valid = [r["valid"] for r in udf_out.collect()]

        for i, (a, b, c) in enumerate(zip(py_valid, col_valid, udf_valid)):
            assert a == b == c, (
                f"schema#{si} row#{i} disagree: py={a} col={b} udf={c}\n"
                f"schema={json.dumps(schema)}\ndoc={json.dumps(docs[i])}\n"
                f"errors={v(docs[i])['errors']}"
            )


def test_differential_variant_backend(spark):
    # the VariantType compiler must agree with the Python backends on the
    # same random (schema, doc) pairs; schemas it can't compile fall back
    # (exercised implicitly by validate_json_column's auto mode elsewhere)
    from json_schema_clj_spark.plans.compiler import ColumnBackendUnsupported

    rng = random.Random(20260817)
    n_schemas, n_rows = 15, 30
    n_covered = 0
    for si in range(n_schemas):
        schema = rand_schema(rng)
        docs = [row_to_doc(rand_row(rng)) for _ in range(n_rows)]
        v = engine.compile(schema)
        py_valid = [not v(d)["errors"] for d in docs]
        jdf = spark.createDataFrame([(json.dumps(d),) for d in docs], "data_json string")
        try:
            out = engine.validate_json_column(jdf, schema, force_backend="variant")
        except ColumnBackendUnsupported:
            continue
        n_covered += 1
        var_valid = [r["valid"] for r in out.collect()]
        for i, (a, b) in enumerate(zip(py_valid, var_valid)):
            assert a == b, (
                f"schema#{si} row#{i} disagree: py={a} variant={b}\n"
                f"schema={json.dumps(schema)}\ndoc={json.dumps(docs[i])}\n"
                f"errors={v(docs[i])['errors']}"
            )
    assert n_covered >= n_schemas // 2, n_covered  # variant path genuinely exercised


def test_differential_map_object_keywords(spark):
    # map-typed targets through the Column backend vs the Python backend:
    # patternGroups / patternProperties / propertyNames / min-maxProperties /
    # patternRequired / additionalProperties over random string->long maps
    from pyspark.sql import types as T

    rng = random.Random(99)
    keys = ["n_a", "n_b", "other", "foo", "f2", "zz"]

    def rand_map_schema():
        opts = [
            {"patternGroups": {"^n_": {"schema": {"minimum": rng.randint(-2, 2)},
                                       "minimum": rng.randint(0, 2)}}},
            {"patternGroups": {"^f": {"schema": {"type": "integer"},
                                      "maximum": rng.randint(0, 2)}}},
            {"patternProperties": {"^n_": {"maximum": rng.randint(-1, 3)}}},
            {"propertyNames": {"pattern": rng.choice(["^[nf]", "^[a-z_0-9]+$"])}},
            {"minProperties": rng.randint(0, 3)},
            {"maxProperties": rng.randint(1, 4)},
            {"patternRequired": [rng.choice(["^n_", "o", "^f"])]},
            {"properties": {"foo": {"minimum": 0}}, "additionalProperties": False},
        ]
        sub = dict(rng.choice(opts))
        if rng.random() < 0.3:
            sub.update(rng.choice(opts))
        return {"properties": {"m": sub}}

    schema_t = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("m", T.MapType(T.StringType(), T.LongType())),
    ])
    for si in range(25):
        schema = rand_map_schema()
        rows = []
        for i in range(20):
            m = {k: rng.randint(-3, 3) for k in rng.sample(keys, k=rng.randint(0, 4))}
            rows.append((i, m if rng.random() > 0.15 else None))
        v = engine.compile(schema)
        py_valid = [not v({"k": k, **({"m": m} if m is not None else {})})["errors"]
                    for k, m in rows]
        df = spark.createDataFrame(rows, schema_t)
        col_valid = [r["valid"] for r in engine.with_validation(df, schema).collect()]
        for i, (a, b) in enumerate(zip(py_valid, col_valid)):
            assert a == b, (
                f"schema#{si} row#{i}: py={a} col={b}\n"
                f"schema={json.dumps(schema)}\nrow={rows[i]}"
            )
