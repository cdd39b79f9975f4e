"""Engine facade — the API a json-schema.clj user lands on.

Reference surface (README.md:17-21, core.clj:1484-1502):

    (json-schema.core/validate schema value)     → {:errors [...] ...}
    (def v (json-schema.core/compile schema))    → reusable validator

This engine keeps those two (driver-side, via the Python backend) and adds
the distributed surface:

    validate(schema, value)             one document, {"errors": ...}
    compile(schema)                     reusable one-doc validator
    validate_table(df, schema, ...)     typed DataFrame → the Catalyst
                                        compiler over the typed view
    validate_json_column(df, schema)    JSON-string column → the Catalyst
                                        compiler over the Variant view when
                                        the schema compiles there, else the
                                        Arrow-batched Python backend
    register_keyword(...)               extension surface on both backends
                                        (the schema-key multimethod analog,
                                        core.clj:132-134)
"""

from __future__ import annotations

import uuid
from typing import Callable, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .operators.validate import validate as validate_table  # noqa: F401
from .operators.validate import with_validation  # noqa: F401
from .plans import compiler as _col_compiler
from .plans.compiler import ColumnBackendUnsupported, compile_json_column, parsed_col_name
from .pyvalidator import validator as _py_validator
from .pyvalidator.udf import make_validate_udf
from .pyvalidator.validator import compile_schema as compile  # noqa: A001
from .pyvalidator.validator import validate  # noqa: F401


def validate_json_column(
    df: DataFrame,
    schema: dict,
    json_col: str = "data_json",
    config: Optional[dict] = None,
    loader=None,
    force_backend: Optional[str] = None,
) -> DataFrame:
    """Validate a raw-JSON string column; returns df + `valid boolean` +
    `violations array<violation>`.

    Backend dispatch (default auto):

    1. **variant** — ``try_parse_json`` into a VariantType value keeps
       every value's runtime JSON type, so the Catalyst keyword compiler
       dispatches on exact types and the whole check tree stays pure
       Catalyst.  Each statically addressed value and its type tag are
       bound once per row, and `valid` derives from the violations array
       (see ``compiler.compile_for_json``).  Used whenever the schema
       compiles on the Variant view.  A `$data` comparator bound
       (minimum/maximum and the other numeric and size bounds) at a
       static path is bound like any other value.
       It declines every other `$data` consumer, a `$data` pointer
       through an array element checked inside a higher-order function,
       `$ref` recursion beyond the unroll depth, non-scalar enum/const
       members, bignum bounds and keywords registered after import.
    2. **python** — the Arrow-batched interpreter, full conformance for
       everything else.

    The compile (or the decline) is memoized per schema, column and
    config.  `force_backend="variant"|"python"` pins a backend; a pinned
    "variant" raises :class:`ColumnBackendUnsupported` instead of falling
    back.
    """
    if force_backend not in (None, "variant", "python"):
        raise ValueError(f"force_backend must be None, 'variant' or 'python', not {force_backend!r}")
    if force_backend != "python":
        try:
            compiled = compile_json_column(schema, json_col, config)
        except ColumnBackendUnsupported:
            if force_backend == "variant":
                raise
        else:
            # parse once, then bind each statically addressed value and its
            # type tag once, each in its own projection; the check tree
            # reads them as attributes
            tmp = parsed_col_name(json_col)
            out = df.withColumn(tmp, F.try_parse_json(F.col(json_col)))
            for layer in compiled.bindings:
                out = out.withColumns(dict(layer))
            out = _verdict(out.withColumn("violations", compiled.violations))
            return out.drop(tmp, *(name for layer in compiled.bindings for name, _ in layer))
    udf = make_validate_udf(schema, config=config, loader=loader)
    return _verdict(df.withColumn("violations", udf(F.col(json_col))))


def _verdict(checked: DataFrame) -> DataFrame:
    """`checked` behind one observe node (Spark's CollectMetrics, counting
    rows), then `valid`: no error-severity violation.  Filter pushdown does
    not cross the node, so a predicate on the verdict stays above it and
    reads the checked violations, instead of re-deriving them below: the
    Variant tree with its parse and bindings inlined at each reference, or
    a second run of the Arrow-Python UDF.  One name per call: two
    validations in one plan must not clash."""
    fenced = checked.observe(f"validate_json_column_{uuid.uuid4().hex}",
                             F.count(F.lit(1)).alias("rows"))
    return fenced.withColumn(
        "valid",
        F.size(F.filter(F.col("violations"), lambda v: v["severity"] == F.lit("error"))) == 0,
    )


def register_keyword(name: str, column_compiler: Optional[Callable] = None,
                     python_compiler: Optional[Callable] = None):
    """Open keyword registration on both backends — the analog of adding a
    schema-key defmethod (core.clj:134).  The column compiler receives a
    typed target, so the JSON tier validates schemas that use it on the
    Python backend."""
    if column_compiler is not None:
        _col_compiler.register_keyword(name, column_compiler)
    if python_compiler is not None:
        _py_validator.KEYWORDS[name] = python_compiler
