"""Arrow-batched Spark integration for the Python backend.

For schemaless JSON documents (a string column of raw JSON), the compiled
validator tree is applied inside a pandas UDF: Arrow moves batches of
documents to Python once per batch (never per row), the closure tree —
compiled once on the driver and shipped inside the UDF closure — evaluates
each document, and violations come back as an Arrow array-of-structs
column with exactly the same shape as the Column backend's, so both
backends share the sinks in operators/validate.py.

This is the analog of the reference's one-doc `validate` entry point
(/root/reference/src/json_schema/core.clj:1500-1502) lifted to a
distributed column.  It is the *slow* path by design — SURVEY.md §1.2:
dynamic residual cases only.
"""

from __future__ import annotations

import json
from typing import Optional

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans.ir import VIOLATION_TYPE
from .validator import compile_schema

RESULT_TYPE = T.StructType(
    [
        T.StructField("valid", T.BooleanType()),
        T.StructField("violations", T.ArrayType(VIOLATION_TYPE)),
        T.StructField(
            "deferreds",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("instance_path", T.ArrayType(T.StringType())),
                        T.StructField("value", T.StringType()),
                        T.StructField("annotation", T.StringType()),
                    ]
                )
            ),
        ),
    ]
)


#: the record of a document that does not parse, as on the Variant tier
PARSE_VIOLATION = ([], [], "$parse", "malformed JSON", "error")


def _reject_constant(name: str):
    raise ValueError(f"{name} is not JSON")


def make_validate_udf(schema: dict, config: Optional[dict] = None, loader=None):
    """Compile once on the driver → a pandas UDF over a JSON-string column."""
    validator = compile_schema(schema, config=config, loader=loader)

    @F.pandas_udf(RESULT_TYPE)
    def validate_json(docs: pd.Series) -> pd.DataFrame:
        valids, violations, deferreds = [], [], []
        for doc in docs:
            try:
                # a NULL document is the JSON null, as on the Variant tier
                value = None if doc is None else json.loads(doc, parse_constant=_reject_constant)
            except (ValueError, RecursionError):
                # not strict JSON (NaN/Infinity included) or nested beyond
                # the recursion limit: a per-row record, never a job abort
                valids.append(False)
                violations.append([PARSE_VIOLATION])
                deferreds.append([])
                continue
            res = validator(value)
            valids.append(len(res["errors"]) == 0)
            viol = [
                ([], [str(p) for p in e["path"]], None, e["message"], sev)
                for sev, lst in (("error", res["errors"]), ("warning", res["warnings"]))
                for e in lst
            ]
            violations.append(viol)
            deferreds.append(
                [
                    ([str(p) for p in d["path"]], json.dumps(d["value"]), json.dumps(d["deferred"]))
                    for d in res["deferreds"]
                ]
            )
        return pd.DataFrame({"valid": valids, "violations": violations, "deferreds": deferreds})

    return validate_json


def validate_json_df(
    df: DataFrame,
    schema: dict,
    json_col: str = "data_json",
    config: Optional[dict] = None,
    loader=None,
    out_col: str = "validation",
) -> DataFrame:
    """Annotate a DataFrame of JSON strings with validation results."""
    udf = make_validate_udf(schema, config=config, loader=loader)
    return df.withColumn(out_col, udf(F.col(json_col)))
