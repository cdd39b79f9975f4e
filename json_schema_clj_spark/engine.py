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

from typing import Callable, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .operators.validate import validate as validate_table  # noqa: F401
from .operators.validate import with_validation  # noqa: F401
from .plans import compiler as _col_compiler
from .plans.compiler import ColumnBackendUnsupported, compile_json_column, parsed_col_name
from .pyvalidator import validator as _py_validator
from .pyvalidator.udf import validate_json_df
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
       Catalyst.  Used whenever the schema compiles on the Variant view.
       It declines `$data`, `$ref` recursion beyond the unroll depth,
       non-scalar enum/const members, bignum bounds and keywords
       registered after import.
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
            # parse ONCE in a dedicated projection: the non-cheap parse stays
            # an attribute reference inside the check tree instead of being
            # inlined (and re-parsed) at every keyword — ~5× at 20 checks
            tmp = parsed_col_name(json_col)
            out = df.withColumn(tmp, F.try_parse_json(F.col(json_col))).withColumn(
                "violations", compiled.violations
            )
            if not config:
                # coalesce: any residual NULL ok must read as invalid so
                # valid == (empty? violations) holds (reference contract)
                out = out.withColumn("valid", F.coalesce(compiled.ok, F.lit(False)))
            else:
                out = out.withColumn(
                    "valid",
                    F.size(F.filter(F.col("violations"), lambda v: v["severity"] == F.lit("error"))) == 0,
                )
            return out.drop(tmp)
    res = validate_json_df(df, schema, json_col=json_col, config=config, loader=loader)
    return (
        res.withColumn("valid", F.col("validation.valid"))
        .withColumn("violations", F.col("validation.violations"))
        .drop("validation")
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
