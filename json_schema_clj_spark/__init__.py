"""json_schema_clj_spark — a PySpark-native schema + constraint validation
engine with the capabilities of niquola/json-schema.clj, re-expressed
Spark-first.

Two execution backends share one schema vocabulary (every keyword of
/root/reference/src/json_schema/core.clj's `schema-key`/`schema-type`
multimethods):

* **Column backend** (`plans.compiler`) — schema compiles once on the
  driver into Catalyst Column predicate trees; whole-stage codegen runs
  them JVM-side over typed tables (the 100 TB path) and over raw-JSON
  columns parsed to VariantType.  Each keyword is written once against a
  value view with a typed and a Variant form.
* **Python backend** (`pyvalidator`) — a from-scratch interpreter for
  arbitrary (schemaless) JSON documents, applied via Arrow-batched pandas
  UDFs.  The draft-suite conformance path and the fallback for constructs
  Columns can't express (unbounded recursion, dynamic object shapes).

Table-level operators (`operators/`) extend the same violation model to
whole-table invariants: per-column stats, uniqueness (salted two-stage
agg), referential integrity (broadcast/SMJ anti-join), distribution drift
(KS/PSI on histogram sketches), dedup, similarity search and text/
multimodal analysis for training-data pipelines.
"""

from .operators.curation import (  # noqa: F401
    CurationConfig,
    CurationResult,
    curate,
    curation_verdicts,
)
from .operators.validate import (  # noqa: F401
    keyword_breakdown,
    validate,
    verdicts,
    violation_rows,
    with_validation,
)
from .plans.compiler import (  # noqa: F401
    ColumnBackendUnsupported,
    compile_for_table,
    compile_schema,
    register_keyword,
)
from .plans.ir import Compiled, Ctx  # noqa: F401

__version__ = "0.1.0"
