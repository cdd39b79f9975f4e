"""Long-run differential fuzz across all four validation backends.

The in-suite fuzz (tests/test_backend_differential.py) pins two seeds so
CI is deterministic; this driver walks FRESH seeds for as long as you let
it run, comparing per-row validity across:

  1. driver-side Python backend (ground truth — mirrors the reference's
     closure-tree execution, core.clj:148-181),
  2. Column backend over the typed table,
  3. Arrow-batched Python backend over JSON strings,
  4. Variant backend (skipped per-schema where it raises Unsupported).

Any disagreement is appended as one JSON line to BENCH/fuzz_findings.jsonl
with the schema, doc, and per-backend verdicts — enough to replay as a
fixture.  Exit code is the number of distinct disagreeing schemas.

Usage: python tools/fuzz_differential.py [start_seed] [n_schemas] [bias: ref|data|refdata|config]

`bias=ref` post-processes each random schema to push subschemas behind
definitions + $ref, sometimes pointing the $ref INTO a combinator node
(`#/definitions/x/anyOf` resolves to the first-registered branch — the
registry-shadowing surface where the last three root-cause bugs lived).

`bias=config` routes a random half of each schema's keywords, and the
names of its `type` members, to warnings, and gives that config to all
four backends: a warning must never fail a document or a combinator's
probe on any of them.
"""

from __future__ import annotations

import json
import os
import random
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

FINDINGS = os.path.join(REPO, "BENCH", "fuzz_findings.jsonl")


def bias_ref(schema, rng):
    """Rewrite a random schema into $ref-heavy shape.

    Two moves, mirroring where real divergences were found (core.clj's
    first-registration-wins registry, see plans/compiler.py
    `_registry_shadow`):
      1. hoist a random property subschema into `definitions` and replace
         it with an internal `$ref`; when the hoisted node is a combinator,
         half the time point the `$ref` INTO the combinator path
         (`#/definitions/x/anyOf`), which resolves to the first-registered
         branch under registry shadowing;
      2. wrap the whole schema one more `$ref` level through definitions.
    Both moves keep the schema resolvable on every backend; the fuzz's job
    is only that all four backends agree.  The moves are mutually
    exclusive and pointer-safe: `#/definitions/...` pointers are absolute
    (resolved from the document root), so hoisting is only valid when the
    mutated schema stays the root, and re-wrapping a schema that already
    carries top-level `definitions`/`$ref` either dangles its inner
    pointers or — when the wrap name collides — builds a self-referential
    $ref cycle that loops without consuming the document (a degenerate
    broken schema every backend, including the reference, would die on).
    """
    if rng.random() < 0.7:
        props = schema.get("properties")
        if isinstance(props, dict) and props:
            col = rng.choice(sorted(props))
            sub = props[col]
            name = f"d_{col}"
            schema.setdefault("definitions", {})[name] = sub
            ptr = f"#/definitions/{name}"
            if isinstance(sub, dict):
                comb = next(
                    (k for k in ("anyOf", "allOf", "oneOf") if k in sub), None
                )
                if comb and rng.random() < 0.5:
                    ptr = f"{ptr}/{comb}"
            props[col] = {"$ref": ptr}
    elif "definitions" not in schema and "$ref" not in schema:
        schema = {"definitions": {"b5root": schema}, "$ref": "#/definitions/b5root"}
    return schema


def bias_data(schema, rng):
    """Rewrite scalar bounds/consts into `$data` relative pointers at
    sibling columns — including TYPE-MISMATCHED targets (a const pointing
    at the array column, an enum pointing at a scalar), which exercise
    the compilers' static ref-dtype compatibility branches the plain
    generator rarely reaches."""
    props = schema.get("properties")
    if isinstance(props, dict):
        for col in sorted(props):
            sub = props[col]
            if isinstance(sub, dict) and rng.random() < 0.5:
                for kw in ("minimum", "maximum", "const", "enum"):
                    if kw in sub and not isinstance(sub[kw], dict):
                        sub[kw] = {"$data": rng.choice(
                            ["1/score", "1/age", "1/name", "1/flag", "1/tags"]
                        )}
                        break
    return schema


def main() -> int:
    start_seed = int(sys.argv[1]) if len(sys.argv) > 1 else 1
    n_schemas = int(sys.argv[2]) if len(sys.argv) > 2 else 500
    bias = sys.argv[3] if len(sys.argv) > 3 else None

    from pyspark.sql import SparkSession

    from json_schema_clj_spark import engine
    from json_schema_clj_spark.plans.compiler import ColumnBackendUnsupported
    from test_backend_differential import (
        TABLE_SCHEMA,
        rand_config,
        rand_row,
        rand_schema,
        row_to_doc,
    )

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .appName("fuzz-differential")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    n_rows = 30
    bad_schemas = 0
    on_variant = 0
    for si in range(start_seed, start_seed + n_schemas):
        rng = random.Random(si)
        schema = rand_schema(rng)
        if bias in ("ref", "refdata"):
            schema = bias_ref(schema, rng)
        if bias in ("data", "refdata"):
            schema = bias_data(schema, rng)
        config = rand_config(rng, schema) if bias == "config" else None
        rows = [rand_row(rng) for _ in range(n_rows)]
        docs = [row_to_doc(r) for r in rows]

        v = engine.compile(schema, config=config)
        py_valid = [not v(d)["errors"] for d in docs]

        df = spark.createDataFrame(rows, TABLE_SCHEMA)
        col_valid = [r["valid"] for r in engine.with_validation(df, schema, config=config).collect()]

        jdf = spark.createDataFrame([(json.dumps(d),) for d in docs], "data_json string")
        udf_valid = [
            r["valid"]
            for r in engine.validate_json_column(jdf, schema, config=config, force_backend="python").collect()
        ]

        try:
            var_out = engine.validate_json_column(jdf, schema, config=config,
                                                  force_backend="variant")
            var_valid = [r["valid"] for r in var_out.collect()]
            on_variant += 1
        except ColumnBackendUnsupported:
            var_valid = None

        schema_bad = False
        for i, d in enumerate(docs):
            verdicts = {"py": py_valid[i], "col": col_valid[i], "udf": udf_valid[i]}
            if var_valid is not None:
                verdicts["variant"] = var_valid[i]
            if len(set(verdicts.values())) > 1:
                schema_bad = True
                with open(FINDINGS, "a") as f:
                    f.write(
                        json.dumps(
                            {
                                "seed": si,
                                "schema": schema,
                                "config": config,
                                "doc": d,
                                "verdicts": verdicts,
                                "py_errors": v(d)["errors"],
                            }
                        )
                        + "\n"
                    )
        bad_schemas += schema_bad
        if (si - start_seed + 1) % 50 == 0:
            print(
                f"[fuzz] {si - start_seed + 1}/{n_schemas} schemas, "
                f"{bad_schemas} disagreeing so far",
                flush=True,
            )

    spark.stop()
    print(f"[fuzz] done: {n_schemas} schemas from seed {start_seed}, {bad_schemas} disagreeing, "
          f"{on_variant} compiled on the Variant tier")
    return bad_schemas


if __name__ == "__main__":
    raise SystemExit(main())
