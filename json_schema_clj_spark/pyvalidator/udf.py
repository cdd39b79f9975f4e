"""Arrow-batched Spark integration for the Python backend.

For schemaless JSON documents (a string column of raw JSON), the compiled
validator tree is applied inside a pandas UDF: Arrow moves batches of
documents to Python once per batch (never per row), the closure tree —
compiled once on the driver and shipped inside the UDF closure — evaluates
each document, and its records come back as one Arrow array-of-structs
column with exactly the same record shape as the Catalyst tiers', so all
backends share the sinks in operators/validate.py.  The records are the
validator's own (:class:`~.validator.Run`), in check order, with their
keyword and the severity the validator routed; only the instance path is
stringified here, and `keyword_path` stays empty.  The UDF returns only
that column: `engine.validate_json_column` derives `valid` from it the
same way on both JSON tiers.

This is the analog of the reference's one-doc `validate` entry point
(/root/reference/src/json_schema/core.clj:1500-1502) lifted to a
distributed column.  It is the *slow* path by design — SURVEY.md §1.2:
dynamic residual cases only.
"""

from __future__ import annotations

import json
from typing import Optional

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans.ir import VIOLATION_TYPE
from .validator import compile_schema


#: the record of a document that does not parse, as on the Variant tier
PARSE_VIOLATION = ([], [], "$parse", "malformed JSON", "error")

#: the record of a document nested too deep for the validator to walk
DEPTH_VIOLATION = ([], [], "$depth", "nested beyond the validator's recursion limit", "error")


def _reject_constant(name: str):
    raise ValueError(f"{name} is not JSON")


def make_validate_udf(schema: dict, config: Optional[dict] = None, loader=None):
    """Compile once on the driver → a pandas UDF over a JSON-string column."""
    validator = compile_schema(schema, config=config, loader=loader)

    @F.pandas_udf(T.ArrayType(VIOLATION_TYPE))
    def validate_json(docs: pd.Series) -> pd.Series:
        violations = []
        for doc in docs:
            try:
                # a NULL document is the JSON null, as on the Variant tier
                value = None if doc is None else json.loads(doc, parse_constant=_reject_constant)
            except (ValueError, RecursionError):
                # not strict JSON (NaN/Infinity included) or nested beyond
                # the recursion limit: a per-row record, never a job abort
                violations.append([PARSE_VIOLATION])
                continue
            try:
                run = validator.run(value)
            except RecursionError:
                # a document (or a recursive `$ref`) deeper than the
                # interpreter's stack: a per-row record, never a job abort
                violations.append([DEPTH_VIOLATION])
                continue
            violations.append(
                [([], [str(p) for p in path], kw, msg, sev) for path, kw, msg, sev in run.records]
            )
        return pd.Series(violations, dtype=object)

    return validate_json
