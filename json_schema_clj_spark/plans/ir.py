"""Intermediate representation for compiled schema checks.

The reference engine (niquola/json-schema.clj) compiles a schema map into a
tree of validator closures, each of which threads an immutable ctx map that
accumulates ``:errors`` / ``:warnings`` / ``:deferreds`` tagged with the JSON
path of the violating value (/root/reference/src/json_schema/core.clj:42-48,
1484-1502).

Our Spark-native analog: a schema compiles into a :class:`Compiled` pair of
Catalyst ``Column`` expressions —

* ``ok``          — boolean, True iff no error-severity check fails (the
                    "probe" view that combinators like anyOf/oneOf/not use,
                    mirroring the scratch-:errors trick at core.clj:781,799),
* ``violations``  — ``array<struct<...>>`` of violation records (empty array
                    = pass), the analog of the accumulated ``:errors``.

Both are pure Column trees: Catalyst constant-folds, prunes and whole-stage
codegens them; nothing here executes Python per row.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field, replace
from typing import Optional, Sequence, Union

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import formats

# The violation record emitted for every failing check.  Mirrors the
# reference's `{:path [...] :message "..."}` error maps plus the v2 engine's
# richer `:by` provenance (/root/reference/src/json_schema/v2.clj:43-50):
# `keyword_path` is the path through the *schema* to the violated keyword,
# `instance_path` the path into the *instance* (map keys + array indices,
# stringified), `severity` the errors/warnings routing of add-error
# (core.clj:42-45).
VIOLATION_FIELDS = [
    ("keyword_path", T.ArrayType(T.StringType())),
    ("instance_path", T.ArrayType(T.StringType())),
    ("keyword", T.StringType()),
    ("message", T.StringType()),
    ("severity", T.StringType()),
]
VIOLATION_TYPE = T.StructType([T.StructField(n, t) for n, t in VIOLATION_FIELDS])


def render(value) -> str:
    """A schema or document value as a violation message prints it, the
    way the reference's `str` does: a string bare, an integer as written,
    true/false/null, and an array or object as its compact JSON text (the
    text a Variant value casts to)."""
    if isinstance(value, str):
        return value
    if type(value) in (int, float):  # the common case, and the same text as json.dumps
        return str(value)
    return json.dumps(value, ensure_ascii=False, separators=(",", ":"))


#: how each comparator words its violation, ``expected{noun} {value}{op}{bound}``,
#: as the reference prints it (compile-comparator, core.clj:93-124); the
#: printed operator is the reference's own, reversed for the size keywords
COMPARATOR_WORDING = {
    "maximum": ("", " <= "),
    "minimum": ("", " >= "),
    "exclusiveMaximum": ("", " < "),
    "exclusiveMinimum": ("", " > "),
    "maxLength": (" string length", " < "),
    "minLength": (" string length", " > "),
    "maxItems": (" array length", " >= "),
    "minItems": (" array length", " <= "),
    "maxProperties": (" number of properties", " >= "),
    "minProperties": (" number of properties", " <= "),
    "formatMaximum": (" value", " <= "),
    "formatMinimum": (" value", " >= "),
}

#: the type names a single named `type` member routes its severity by
_TYPE_NAMES = {"string", "boolean", "number", "integer", "object", "array", "null", "any",
               *formats.TYPE_REGEX}


def type_route(value) -> str:
    """The config key a `type` violation routes its severity by, as the
    reference's add-error does (core.clj:42-45): a single named member's
    type name (`null` for `nil`, `unknown-type` for a name no type has),
    and `type` for a union or an inline-schema member."""
    if isinstance(value, (list, dict, bool)):
        return "type"
    t = "null" if str(value) == "nil" else str(value)
    return t if t in _TYPE_NAMES else "unknown-type"


# Path segments into the instance: compile-time strings (map keys) or runtime
# Columns (array indices produced by higher-order functions).
PathSeg = Union[str, int, Column]


def _typed_empty_array() -> Column:
    """Typed empty array<violation> — the 'pass' result."""
    return F.array().cast(T.ArrayType(VIOLATION_TYPE))


@dataclass(frozen=True)
class Compiled:
    """Result of compiling one (sub)schema against one target Column.

    ``unit``/``empty`` are assembly hints, not semantics: ``empty`` marks a
    literally-empty violations array (compile-time prunable), ``unit`` a
    single struct-or-null Column for one-violation checks.  `merge` uses
    them to assemble sibling checks as ONE
    ``filter(array(struct_or_null...), notnull)`` instead of
    ``flatten(array(when-array...))`` — the nested form allocates an array
    per check per failing row and measured ~4× slower on the violation
    sink.

    ``bindings`` (set on a Variant-tier root only) lists the attributes the
    trees read, as projection layers of ``(name, Column)`` pairs; a layer
    may read the layers before it."""

    ok: Column
    violations: Column  # array<VIOLATION_TYPE>
    unit: Optional[Column] = None  # struct-or-null form, when single-check
    empty: bool = False  # violations is the literal empty array
    bindings: tuple = ()

    @staticmethod
    def passed() -> "Compiled":
        return Compiled(ok=F.lit(True), violations=_typed_empty_array(), empty=True)


def path_col(segments: Sequence[PathSeg]) -> Column:
    """Instance path as array<string>; dynamic (Column) segments stringified."""
    out = []
    for s in segments:
        if isinstance(s, Column):
            out.append(s.cast("string"))
        else:
            out.append(F.lit(str(s)))
    return F.array(*out)


def violation(
    keyword_path: Sequence[str],
    instance_path: Sequence[PathSeg],
    keyword: str,
    message: Union[str, Column],
    severity: str,
) -> Column:
    """A one-element array<violation>."""
    msg = message if isinstance(message, Column) else F.lit(message)
    return F.array(
        F.struct(
            F.array(*[F.lit(s) for s in keyword_path]).alias("keyword_path"),
            path_col(instance_path).alias("instance_path"),
            F.lit(keyword).alias("keyword"),
            msg.alias("message"),
            F.lit(severity).alias("severity"),
        )
    )


def simple_check(
    ok: Column,
    keyword_path: Sequence[str],
    instance_path: Sequence[PathSeg],
    keyword: str,
    message: Union[str, Column],
    severity: str = "error",
) -> Compiled:
    """Pass/fail check emitting a single violation on failure.

    The analog of one reference validator closure calling add-error
    (core.clj:42-45), and the one place a routed severity takes effect:
    the record carries `severity`, and only an error-severity check can
    fail `ok`.  So `ok` means "no error-severity record" in every subtree,
    which is what the combinators' probes read, like the reference's
    scratch-:errors probes (core.clj:738,758,781,799,1387): a warning
    never fails a document or a probe.
    """
    viol = F.when(ok, _typed_empty_array()).otherwise(
        violation(keyword_path, instance_path, keyword, message, severity)
    )
    # Emit unless ok is literally true: under SQL three-valued logic a NULL
    # ok (possible for custom register_keyword checks) must count as a
    # failure, matching the violations branch — `~ok` alone would yield
    # NULL, and merge's isNotNull filter would silently drop the violation.
    unit = F.when(
        ~F.coalesce(ok, F.lit(False)),
        F.struct(
            F.array(*[F.lit(s) for s in keyword_path]).alias("keyword_path"),
            path_col(instance_path).alias("instance_path"),
            F.lit(keyword).alias("keyword"),
            (message if isinstance(message, Column) else F.lit(message)).alias("message"),
            F.lit(severity).alias("severity"),
        ),
    )
    # an error's ok is coalesced too: a NULL would otherwise reach
    # with_validation's `valid` as valid=NULL beside a record, and drop the
    # row from every ~valid prefilter
    return Compiled(ok=F.coalesce(ok, F.lit(False)) if severity == "error" else F.lit(True),
                    violations=viol, unit=unit)


def merge(compiled: Sequence[Compiled], units: bool = True) -> Compiled:
    """AND-combine: all must pass; violations accumulate (reference keyword
    reduction, core.clj:167-171 — no short-circuit, errors accumulate).

    Assembly: literally-empty children are pruned at compile time; runs of
    single-violation checks collapse into one
    ``filter(array(struct_or_null...), notnull)`` (with ``units=False``:
    their violation arrays, in the same order); array-valued children
    (nested items/HOF results) join via varargs ``concat``."""
    comps = [c for c in compiled if c is not None]
    if not comps:
        return Compiled.passed()
    ok = comps[0].ok
    for c in comps[1:]:
        ok = ok & c.ok
    nonempty = [c for c in comps if not c.empty]
    if not nonempty:
        return Compiled(ok=ok, violations=_typed_empty_array(), empty=True)
    singles = [c for c in nonempty if c.unit is not None]
    arrays = [c.violations for c in nonempty if c.unit is None]
    parts = []
    if singles and units:
        parts.append(F.filter(F.array(*[c.unit for c in singles]), lambda x: x.isNotNull()))
    elif singles:
        parts.extend(c.violations for c in singles)
    parts.extend(arrays)
    viols = parts[0] if len(parts) == 1 else F.concat(*parts)
    # a single surviving unit stays unit-shaped for further merging upstream
    unit = singles[0].unit if (len(nonempty) == 1 and singles and not arrays) else None
    return Compiled(ok=ok, violations=viols, unit=unit)


@dataclass(frozen=True)
class Ctx:
    """Compile-time context threaded through keyword compilers — the analog of
    the reference's compile-time portion of its ctx map plus the registry atom
    (core.clj:174-180)."""

    schema_path: tuple = ()
    instance_path: tuple = ()
    # per-keyword severity routing: {"minimum": "warnings"} — same shape as the
    # reference's `{:config {<keyword> :warnings}}` (core.clj:42-45)
    config: dict = field(default_factory=dict)
    root_schema: Optional[dict] = None
    # target's Spark DataType when known (struct field / array element) —
    # enables compile-time type verdicts; VariantType selects the per-row
    # Variant view (compiler.py, "the value view")
    dtype: Optional[T.DataType] = None
    # the root row struct Column, for $data "#/..." absolute pointers
    root_col: Optional[Column] = None
    # the root row's StructType, for dtype-threading during $data walks
    root_dtype: Optional[T.DataType] = None
    # remaining $ref unroll depth
    depth: int = 8

    def severity(self, keyword: str) -> str:
        return "warning" if self.config.get(keyword) in ("warnings", "warning") else "error"

    def down(self, key: str, col_seg: PathSeg, dtype: Optional[T.DataType]) -> "Ctx":
        return replace(
            self,
            schema_path=self.schema_path + (key,),
            instance_path=self.instance_path + (col_seg,),
            dtype=dtype,
        )

    def at_keyword(self, keyword: str) -> "Ctx":
        return replace(self, schema_path=self.schema_path + (keyword,))
