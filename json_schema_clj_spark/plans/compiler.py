"""Schema → Catalyst Column compiler: one keyword registry, two value views.

The analog of the reference's compile-then-validate engine
(/root/reference/src/json_schema/core.clj:148-181 `compile-schema`): where
the reference dispatches each schema keyword through the open `schema-key`
multimethod (core.clj:134) to build a tree of validator *closures*, we
dispatch through the :data:`KEYWORD_COMPILERS` registry to build a tree of
Spark SQL *Column expressions* — one boolean `ok` plus an
`array<violation>` per subschema (:class:`~..plans.ir.Compiled`).

Each keyword body is written once, against a *view* of its target value
(see "the value view" below), and compiles for two kinds of target:

* a **typed column** (:func:`compile_for_table`) — a table row, struct
  field, array element or map value.  The view answers from the Spark type
  at compile time, so type tests fold to literals that Catalyst prunes.
* a **Variant value** (:func:`compile_for_json`) — a raw-JSON string
  column parsed with ``try_parse_json``.  The view answers per row: a
  ``schema_of_variant`` type tag, ``try_variant_get`` casts, and objects
  and arrays exposed as ``map<string,variant>`` / ``array<variant>`` so
  the MapType/ArrayType branches of the object and array keywords serve
  both.  JSON numbers keep their identity: ``1`` is BIGINT (an integer),
  ``1.0`` is DECIMAL (a number, not an integer); an integer beyond int64
  parses as DECIMAL(p,0) and is treated as a non-integer (documented
  limitation).

The compiled tree is pure Catalyst: whole-stage codegen evaluates it
JVM-side with zero per-row Python.  A (schema, target) pair the view cannot
express raises :class:`ColumnBackendUnsupported` and the engine-level API
falls back to the Arrow-batched Python backend
(json_schema_clj_spark.pyvalidator).  On a Variant value that covers
`$data`, non-scalar enum/const members, `$ref` recursion beyond the unroll
depth, and any keyword registered after import (its compiler expects a
typed target).

Extension surface: :func:`register_keyword` mirrors the reference's open
multimethod (custom keywords `discriminator`, `exclusiveProperties`,
`subset`, `deferred` are registered exactly like standard ones).
"""

from __future__ import annotations

import functools
import json
import operator
import re
from dataclasses import replace
from decimal import Decimal
from typing import Any, Callable, Optional

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import formats
from .ir import Compiled, Ctx, PathSeg, _typed_empty_array, merge, simple_check, violation

# ---------------------------------------------------------------------------


class ColumnBackendUnsupported(Exception):
    """This (schema, Spark type) combination needs the Python backend."""


KeywordCompiler = Callable[[Any, dict, Column, Ctx], Optional[Compiled]]
KEYWORD_COMPILERS: dict[str, KeywordCompiler] = {}

# keywords consumed elsewhere or pure annotations — reference compiles these
# to nil validators (core.clj:724-728, 742-750, 912-915, 1132-1133,
# 1153-1157, 1193-1205)
NOOP_KEYWORDS = {
    "title",
    "description",
    "$schema",
    "id",
    "$id",
    "default",
    "definitions",
    "then",
    "else",
    "additionalItems",
    "exclusiveFormatMaximum",
    "exclusiveFormatMinimum",
    # absorbed into minimum/maximum when those are present; handled there
    # (draft-6 standalone numeric form has its own compiler below)
}


def register_keyword(name: str, fn: Optional[KeywordCompiler] = None):
    """Register `fn` for `name` (or use as a decorator).  A keyword
    registered after import compiles on typed columns only: a Variant
    compile of a schema that uses it raises
    :class:`ColumnBackendUnsupported`, so the JSON tier validates that
    schema on the Python backend instead of dropping the keyword."""
    def deco(fn: KeywordCompiler) -> KeywordCompiler:
        KEYWORD_COMPILERS[name] = fn
        return fn

    return deco if fn is None else deco(fn)


# ---------------------------------------------------------------------------
# helpers


def _is_integral(dt) -> bool:
    return isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType))


def _is_numeric(dt) -> bool:
    return isinstance(dt, T.NumericType)


_empty = _typed_empty_array


def _guard(skip: Column, c: Compiled) -> Compiled:
    """Non-applicable / absent values pass (comparator ladder,
    core.clj:93-124; properties guard core.clj:367-389)."""
    return Compiled(
        ok=F.when(skip, F.lit(True)).otherwise(c.ok),
        violations=F.when(skip, _empty()).otherwise(c.violations),
    )


# ---------------------------------------------------------------------------
# the value view
#
# Keyword bodies reach their target only through these helpers.  On a typed
# column (any ctx.dtype but VariantType) they answer from the Spark type at
# compile time: a type test is `isNotNull` or statically inapplicable, and
# the value is the column itself.  On a Variant value they answer per row:
# the type test reads the `schema_of_variant` tag, the value is a
# `try_variant_get` cast, an object is the `map<string,variant>` of its
# members and an array the `array<variant>` of its elements.

#: JSON type family -> does a typed column of this Spark type hold it
_FAMILIES = {
    "string": lambda dt: isinstance(dt, T.StringType),
    "boolean": lambda dt: isinstance(dt, T.BooleanType),
    "number": _is_numeric,
    # 1.0 is NOT an integer (core.clj:238-244; suite numeric-unification
    # cases are skipped by the reference — do not "fix")
    "integer": lambda dt: _is_integral(dt) or (isinstance(dt, T.DecimalType) and dt.scale == 0),
    "object": lambda dt: isinstance(dt, (T.StructType, T.MapType)),
    "array": lambda dt: isinstance(dt, T.ArrayType),
}

#: JSON type family -> the Spark type a Variant value of it is read as
_VARIANT_AS = {
    "string": T.StringType(),
    "boolean": T.BooleanType(),
    "number": T.DoubleType(),
    "integer": T.LongType(),
    "object": T.MapType(T.StringType(), T.VariantType()),
    "array": T.ArrayType(T.VariantType()),
}


def _is_variant(dt) -> bool:
    return isinstance(dt, T.VariantType)


def _vtag_is(family: str, v: Column) -> Column:
    """Per-row type test of a Variant value by its `schema_of_variant` tag
    (VOID/BOOLEAN/BIGINT/DECIMAL(p,s)/DOUBLE/STRING/OBJECT<...>/ARRAY<...>;
    SQL NULL for an absent value)."""
    t = F.schema_of_variant(v)
    if family == "number":
        return (t == "BIGINT") | t.startswith("DECIMAL") | (t == "DOUBLE") | (t == "FLOAT")
    if family in ("object", "array"):
        return t.startswith(family.upper())
    return t == F.lit({"null": "VOID", "string": "STRING", "boolean": "BOOLEAN", "integer": "BIGINT"}[family])


def _is(family: str, target: Column, dt) -> Optional[Column]:
    """The target is a present JSON value of `family`; None when its Spark
    type rules that out at compile time."""
    if _is_variant(dt):
        return _vtag_is(family, target)
    if dt is None or _FAMILIES[family](dt):
        return target.isNotNull()
    return None


def _value(target: Column, dt, as_type: T.DataType) -> Column:
    """Typed accessor: the column itself, or a Variant value cast to
    `as_type` (NULL when it does not cast)."""
    if _is_variant(dt):
        return F.try_variant_get(target, "$", as_type.simpleString())
    return target


def _as(family: str, target: Column, dt, as_type: Optional[T.DataType] = None):
    """The target seen as a `family` value by a keyword that applies only to
    that family: ``(value, value dtype, skip)`` where `skip` holds when the
    value is absent or (Variant) of another JSON type, so the keyword
    passes.  None when the Spark type rules the family out at compile time
    (the keyword passes statically)."""
    if _is_variant(dt):
        as_type = as_type or _VARIANT_AS[family]
        return _value(target, dt, as_type), as_type, ~_vtag_is(family, target) | target.isNull()
    if dt is not None and not _FAMILIES[family](dt):
        return None
    return target, dt, target.isNull()


def _present(col: Column, dt) -> Column:
    """has-property?: present AND not nil (core.clj:852-854).  A typed
    column conflates absent with null; a Variant tells JSON null apart."""
    if _is_variant(dt):
        return col.isNotNull() & ~_vtag_is("null", col)
    return col.isNotNull()


def _absent(col: Column, dt) -> Column:
    return ~_present(col, dt) if _is_variant(dt) else col.isNull()


_SCALAR_FAMILIES = ((bool, "boolean"), (int, "integer"), (float, "number"), (str, "string"))


def _variant_eq(v: Column, member) -> Column:
    """Clojure `=` of a Variant value with a scalar JSON literal
    (json-compare, core.clj:472-478: strict numeric identity, 1 ≠ 1.0)."""
    if member is None:
        return _vtag_is("null", v)
    family = next((f for t, f in _SCALAR_FAMILIES if isinstance(member, t)), None)
    if family is None:
        raise ColumnBackendUnsupported(f"non-scalar literal {member!r} on a Variant value")
    same_type = _vtag_is(family, v)
    if family == "number":  # a float literal never equals an integer
        same_type = same_type & ~_vtag_is("integer", v)
    as_type = _VARIANT_AS[family].simpleString()
    return same_type & (F.try_variant_get(v, "$", as_type) == F.lit(_i64_guard(member)))


def _eq(target: Column, dt, v) -> Column:
    """Clojure `=` of the target with a scalar JSON literal."""
    if _is_variant(dt):
        return _variant_eq(target, v)
    if _lit_compatible(dt, v):
        return target.eqNullSafe(_scalar_lit(v))
    # cross-JSON-type literal (e.g. a registry-shadowed $ref landing a
    # scalar const on an array column): never equal under Clojure `=`
    return F.lit(False)


def _in(target: Column, dt, members: list) -> Column:
    """Clojure-`=` membership of the target in scalar JSON literals."""
    for v in members:
        _scalar_lit(v)  # reject non-scalar members (Python backend handles those)
    if _is_variant(dt):
        ok = F.lit(False)
        for m in members:
            ok = ok | _variant_eq(target, m)
        return ok
    # drop members that can never equal the typed target (Clojure `=` is
    # false across JSON types; keeping them would coerce — or abort
    # analysis on complex-typed targets)
    lits = [v for v in members if v is not None and _lit_compatible(dt, v)]
    ok = F.coalesce(target.isin(*lits), F.lit(False)) if lits else F.lit(False)
    # null is in the enum iff None is a member
    if any(v is None for v in members):
        ok = ok | target.isNull()
    return ok


def _const_fail(ctx: Ctx, keyword: str, message: str) -> Compiled:
    return simple_check(F.lit(False), ctx.schema_path, ctx.instance_path, keyword, message, ctx.severity(keyword))


def _probe_ok(schema, target: Column, ctx: Ctx) -> Column:
    """Compile a subschema for its ok-flag only — the analog of running a
    child with scratch :errors (core.clj:781,799)."""
    return compile_schema(schema, target, ctx).ok


def _resolve_data_pointer(ref: str, ctx: Ctx):
    """$data relative-JSON-pointer resolution (reference compile-pointer,
    core.clj:65-91): returns (Column, DataType|None) or a literal string for
    the `N#` key form.  Walks from the root row struct for absolute `#/...`
    pointers, or from instance_path minus N for relative `N/...` ones."""
    is_root = ref.startswith("#")
    is_key = ref.endswith("#")
    body = ref
    if is_root:
        body = body[2:] if body.startswith("#/") else body[1:]
    if is_key:
        body = body[:-1].rstrip("/") if body != "#" else ""
    segs = [s for s in body.split("/") if s != ""]

    def decode(s: str) -> str:
        return s.replace("~1", "/").replace("~0", "~").replace("%25", "%")

    if is_root:
        base_path: tuple = ()
    else:
        if not segs:
            raise ColumnBackendUnsupported(f"empty relative $data pointer {ref!r}")
        steps_back = int(segs[0])
        segs = segs[1:]
        if steps_back > len(ctx.instance_path):
            raise ColumnBackendUnsupported(f"$data pointer {ref!r} escapes the row")
        base_path = ctx.instance_path[: len(ctx.instance_path) - steps_back]

    full = list(base_path) + [decode(s) if not s.isdigit() else int(s) for s in segs]
    if is_key:
        if not full:
            raise ColumnBackendUnsupported(f"$data key pointer {ref!r} at root")
        last = full[-1]
        if isinstance(last, Column):
            return last.cast("string"), T.StringType()
        return F.lit(str(last)), T.StringType()

    if ctx.root_col is None:
        raise ColumnBackendUnsupported("$data requires root_col in compile context")
    col = ctx.root_col
    dt = ctx.root_dtype
    for seg in full:
        if isinstance(seg, (Column, int)):
            if dt is not None and not isinstance(dt, T.ArrayType):
                # numeric seg into a non-array: statically absent -> the
                # reference resolves the pointer to nil (json-pointer get-in)
                return F.lit(None), None
            # F.get is 0-based and null-safe: an out-of-range index is a nil
            # bound (reference get-in), not an ANSI INVALID_ARRAY_INDEX abort
            idx = seg if isinstance(seg, Column) else F.lit(int(seg))
            col = F.get(col, idx)
            dt = dt.elementType if isinstance(dt, T.ArrayType) else None
        elif isinstance(dt, T.StructType):
            if seg not in dt.fieldNames():
                # absent sibling field: a nil bound, NOT a plan-time
                # FIELD_NOT_FOUND — every $data consumer passes on nil
                return F.lit(None), None
            col = col.getField(seg)
            dt = dt[seg].dataType
        elif isinstance(dt, T.MapType):
            col = F.element_at(col, F.lit(seg))
            dt = dt.valueType
        elif dt is None:
            col = col.getField(seg)  # unknown shape: best-effort
        else:
            # walking a key into a scalar: statically absent -> nil bound
            return F.lit(None), None
    return col, dt


def _maybe_data(value, ctx: Ctx):
    """Detect the v5 `{"$data": "<pointer>"}` form ($data-pointer,
    core.clj:126-127). Returns (resolved Column, dtype) or None."""
    if isinstance(value, dict) and "$data" in value:
        return _resolve_data_pointer(value["$data"], ctx)
    return None


# ---------------------------------------------------------------------------
# type keyword (schema-type multimethod, core.clj:183-348)


def _type_ok(tname, target: Column, dtype, ctx: Ctx) -> Column:
    """ok-Column for a single type name.  On a typed column most of these
    fold to constants that Catalyst prunes."""
    if isinstance(tname, (dict, bool)):  # draft-3 union member as inline schema
        return _probe_ok(tname, target, ctx)
    t = str(tname)
    if t == "any":
        return F.lit(True)
    if t in ("null", "nil"):
        return _vtag_is("null", target) | target.isNull() if _is_variant(dtype) else target.isNull()
    if t in _FAMILIES:
        ok = _is(t, target, dtype)
        if ok is None:
            return F.lit(False)
        if t == "string":
            # non-standard quirk: blank strings are NOT valid strings
            # (core.clj:189-190 "expected not empty string").  str/blank?
            # means ANY-whitespace-only, not space-only — Spark's trim()
            # strips only 0x20, so "\t\n" must use a whitespace class
            return ok & ~_value(target, dtype, T.StringType()).rlike(r"^\s*$")
        return ok
    if t in formats.TYPE_REGEX:
        ok = _is("string", target, dtype)
        if ok is not None:
            s = _value(target, dtype, T.StringType())
            base = ok & s.rlike(formats.TYPE_REGEX[t])
            if t == "uri":
                base = base & ~s.rlike(r"^\s*$")
            return base
        # a NATIVELY-typed temporal column trivially satisfies the
        # corresponding string-format type: the reference only ever sees
        # strings (JSON has no date type), so the regex is its proxy for
        # "is a date(time)"; a DateType/TimestampType value already IS one.
        # Without this, schema_from_profile's {"type": "datetime"} on a
        # timestamp column compiled to constant-false — breaking the
        # inference closure (code-review round 3).
        if t == "datetime" and isinstance(
            dtype, (T.DateType, T.TimestampType, T.TimestampNTZType)
        ):
            return target.isNotNull()
        if t == "date" and isinstance(dtype, T.DateType):
            return target.isNotNull()
        return F.lit(False)
    return None  # unknown type


@register_keyword("type")
def _compile_type(value, schema, target: Column, ctx: Ctx) -> Compiled:
    sev = ctx.severity("type")
    members = value if isinstance(value, list) else [value]
    oks = []
    for m in members:
        ok = _type_ok(m, target, ctx.dtype, ctx)
        if ok is None:
            # "Broken schema: unknown type" (core.clj:344-348)
            return _const_fail(ctx, "type", f"Broken schema: unknown type {m}")
        oks.append(ok)
    ok_all = functools.reduce(operator.or_, oks)
    if isinstance(value, list):
        msg = f"expected one of types {', '.join(str(m) for m in members)}"
        return simple_check(ok_all, ctx.schema_path, ctx.instance_path, "type", msg, sev)
    t = str(value)
    is_str = _is("string", target, ctx.dtype) if t == "string" else None
    if is_str is not None:
        # distinguish the blank-string quirk message (core.clj:186-190)
        msg = F.when(
            is_str & F.coalesce(_value(target, ctx.dtype, T.StringType()), F.lit("")).rlike(r"^\s*$"),
            F.lit("expected not empty string"),
        ).otherwise(F.lit("expected type of string"))
        return simple_check(ok_all, ctx.schema_path, ctx.instance_path, "type", msg, sev)
    msgs = {
        "boolean": "expected boolean",
        "number": "expected number",
        "integer": "expected integer",
        "object": "expected object",
        "array": "expected array",
        "null": "expected null",
        "nil": "expected null",
        "date": "wrong date format",
        "datetime": "wrong datetime format",
        "time": "wrong time format",
        "uri": "wrong uri format",
        "oid": "wrong oid format",
        "uuid": "wrong uuid format",
        "email": "wrong email format",
        "string": "expected type of string",
    }
    return simple_check(
        ok_all, ctx.schema_path, ctx.instance_path, "type", msgs.get(t, f"expected {t}"), sev
    )


# ---------------------------------------------------------------------------
# enum / const


_I64_MIN, _I64_MAX = -(1 << 63), (1 << 63) - 1


def _i64_guard(v):
    """py4j long literals are int64, so a beyond-int64 integer bound /
    enum member / const cannot become a Column literal (Protocol.getLong
    overflows).  Clojure integers are arbitrary precision — fall back to
    the Python backend, which validates bignums exactly (official-suite
    optional/bignum counterparts, tests/fixtures/*/bignum.json)."""
    if isinstance(v, int) and not isinstance(v, bool) and not (_I64_MIN <= v <= _I64_MAX):
        raise ColumnBackendUnsupported("integer literal beyond int64 needs the Python backend")
    return v


def _scalar_lit(v):
    if v is None or isinstance(v, (str, bool, int, float)):
        return F.lit(_i64_guard(v))
    raise ColumnBackendUnsupported(f"non-scalar literal {v!r} needs the Python backend")


_STRINGISH = (T.StringType, T.DateType, T.TimestampType, T.TimestampNTZType)


def _dtype_compatible(a, b) -> bool:
    """Can values of these two Spark types ever be Clojure-`=` equal
    beyond the null <=> null case, on the typed-table surface?  Same
    families as :func:`_lit_compatible` (numeric<->numeric,
    string<->string/temporal, boolean<->boolean), compared family-wise so
    nullability/metadata differences between otherwise-equal types don't
    trigger the static-false branch.  Unknown types defer to the runtime
    comparison; arrays are handled by the caller (empty arrays of any
    element type are Clojure-equal)."""
    if a is None or b is None:
        return True
    if _is_numeric(a) and _is_numeric(b):
        return True
    if isinstance(a, _STRINGISH) and isinstance(b, _STRINGISH):
        return True
    if isinstance(a, T.BooleanType) and isinstance(b, T.BooleanType):
        return True
    if isinstance(a, T.ArrayType) and isinstance(b, T.ArrayType):
        return _dtype_compatible(a.elementType, b.elementType)
    if isinstance(a, T.StructType) or isinstance(b, T.StructType):
        # struct-vs-struct: only exact same shape compares at runtime;
        # the {}-=={}-via-all-null-fields conflation is accepted as part
        # of the typed surface (absent/null conflation, module docstring)
        return a == b
    if isinstance(a, T.MapType) and isinstance(b, T.MapType):
        return _dtype_compatible(a.keyType, b.keyType) and _dtype_compatible(
            a.valueType, b.valueType
        )
    return False


def _lit_compatible(dtype, v) -> bool:
    """Can a scalar JSON literal ever equal a value of this Spark type
    under Clojure `=` on the typed-table surface?  Statically-incompatible
    pairs (a string const against an array column, a number against a
    boolean) must compile to a constant-false equality: Clojure `=` simply
    answers false across JSON types (0 ≠ false, 1 ≠ true, "x" ≠ ["x"]),
    while letting Spark coerce — or abort analysis with
    DATATYPE_MISMATCH, as an eqNullSafe(array<string>, lit("x")) from a
    registry-shadowed $ref does — diverges from the reference.  Unknown
    dtype or a null literal defer to the runtime comparison."""
    if dtype is None or v is None:
        return True
    if isinstance(dtype, (T.ArrayType, T.MapType, T.StructType, T.BinaryType)):
        return False
    if isinstance(v, bool):
        return isinstance(dtype, T.BooleanType)
    if isinstance(v, (int, float)):
        return _is_numeric(dtype)
    # strings also compare against the date/timestamp columns the typed
    # surface stores temporal values in (coercion = ISO parse)
    return isinstance(
        dtype, (T.StringType, T.DateType, T.TimestampType, T.TimestampNTZType)
    )


@register_keyword("enum")
def _compile_enum(value, schema, target: Column, ctx: Ctx) -> Compiled:
    sev = ctx.severity("enum")
    data = _maybe_data(value, ctx)
    if data is not None:
        ref_col, ref_dt = data
        if ref_dt is not None and not isinstance(ref_dt, T.ArrayType):
            # non-sequential $data target: a NIL ref passes BEFORE the
            # could-not-enum error fires (core.clj:487-489 — same cond
            # order as the comparator's null-runtime-bound pass); only a
            # present non-array value is the broken-enum error
            return simple_check(
                ref_col.isNull(), ctx.schema_path, ctx.instance_path, "enum",
                F.concat(F.lit("could not enum by "),
                         F.coalesce(ref_col.cast("string"), F.lit("null"))),
                sev,
            )
        if isinstance(ref_dt, T.ArrayType) and not _dtype_compatible(
            ref_dt.elementType, ctx.dtype
        ):
            # statically incompatible JSON types are never enum members —
            # array_contains would be a plan-time DATATYPE_MISMATCH abort
            # (family-wise compat, so string enums still admit temporal
            # targets and nullability metadata never triggers this branch)
            # — except an empty array target against an empty array
            # member, equal whatever the element types, as in `const`
            member = F.lit(False)
            if isinstance(ref_dt.elementType, T.ArrayType) and isinstance(ctx.dtype, T.ArrayType):
                member = F.coalesce(
                    (F.size(target) == 0) & F.exists(ref_col, lambda m: F.size(m) == 0),
                    F.lit(False),
                )
            ok = F.when(ref_col.isNull(), F.lit(True)).otherwise(member)
        else:
            ok = F.when(ref_col.isNull(), F.lit(True)).otherwise(
                F.coalesce(F.array_contains(ref_col, target), F.lit(False))
            )
        # no null-pass here: a null target = missing property, and the
        # properties/patternProperties compilers already null-pass their
        # children (fixture: data_structures.json "missing target property
        # is not validated"), matching the plain-enum branch below
        return simple_check(ok, ctx.schema_path, ctx.instance_path, "enum", "expected one of $data enum", sev)
    ok = _in(target, ctx.dtype, value)
    msg = "expected one of " + ", ".join(str(v) for v in value)
    return simple_check(ok, ctx.schema_path, ctx.instance_path, "enum", msg, sev)


def _compile_const(keyword: str):
    def fn(value, schema, target: Column, ctx: Ctx) -> Compiled:
        sev = ctx.severity(keyword)
        data = _maybe_data(value, ctx)
        if data is not None:
            ref_col, ref_dt = data
            if not _dtype_compatible(ref_dt, ctx.dtype):
                # statically incompatible JSON types: Clojure `=` is false
                # except null <=> null (the eqNullSafe null case) — and,
                # when both sides are arrays, the empty <=> empty case
                # ([] = [] regardless of element type); the coerced
                # comparison would be a plan-time DATATYPE_MISMATCH
                ok = ref_col.isNull() & target.isNull()
                if isinstance(ref_dt, T.ArrayType) and isinstance(ctx.dtype, T.ArrayType):
                    ok = ok | (
                        ref_col.isNotNull() & target.isNotNull()
                        & (F.size(ref_col) == 0) & (F.size(target) == 0)
                    )
            else:
                ok = target.eqNullSafe(ref_col)
            return simple_check(
                ok, ctx.schema_path, ctx.instance_path, keyword,
                F.concat(F.lit("expected "), F.coalesce(ref_col.cast("string"), F.lit("null")),
                         F.lit(", but "), F.coalesce(target.cast("string"), F.lit("null"))),
                sev,
            )
        ok = _eq(target, ctx.dtype, value)
        # a Variant casts to its JSON text (a string to its bare value)
        msg = F.concat(
            F.lit(f"expected {json.dumps(value) if not isinstance(value, str) else value}, but "),
            F.coalesce(target.cast("string"), F.lit("null")),
        )
        return simple_check(ok, ctx.schema_path, ctx.instance_path, keyword, msg, sev)

    return fn


register_keyword("const", _compile_const("const"))
register_keyword("constant", _compile_const("constant"))


# ---------------------------------------------------------------------------
# numeric / string comparators — one generator specializes all bounded
# keywords, mirroring compile-comparator (core.clj:93-124)


def make_comparator(
    keyword: str,
    op: str,  # 'ge' | 'gt' | 'le' | 'lt'
    family: str,  # the JSON type family the keyword applies to
    value_expr: Callable[[Column, Any], Column],  # (value, dtype) -> compared
    bound_is_ok,  # predicate on a literal bound's python type
    message: str,
):
    def fn(value, schema, target: Column, ctx: Ctx) -> Optional[Compiled]:
        sev = ctx.severity(keyword)
        exclusive = None
        if keyword in ("minimum", "maximum"):
            exclusive = schema.get("exclusive" + keyword.capitalize())
        elif keyword in ("formatMinimum", "formatMaximum"):
            exclusive = schema.get("exclusiveFormat" + keyword[6:])
        if isinstance(exclusive, dict):
            raise ColumnBackendUnsupported("$data exclusive flag needs the Python backend")
        # a non-boolean exclusive flag is a broken schema: EVERY value errors,
        # even non-applicable ones — core.clj:116-117 checks it before
        # value-applicability (draft-4 flag form vs a draft-6 numeric sibling)
        broken_flag = exclusive is not None and not isinstance(exclusive, bool)
        eff_op = op
        if exclusive is True:
            eff_op = {"ge": "gt", "le": "lt"}[op]
        data = _maybe_data(value, ctx)
        if data is not None:
            bound_col, bound_dt = data
            # cond order mirrors core.clj:106-117: a null runtime bound
            # passes before the broken-bound/broken-flag errors fire
            if bound_dt is not None and not bound_is_ok_dtype(bound_dt, bound_is_ok):
                return simple_check(
                    bound_col.isNull(), ctx.schema_path, ctx.instance_path, keyword,
                    F.concat(F.lit(" could not compare with "), F.coalesce(bound_col.cast("string"), F.lit("null"))),
                    sev,
                )
            if broken_flag:
                return simple_check(
                    bound_col.isNull(), ctx.schema_path, ctx.instance_path, keyword,
                    F.lit(f"exclusive flag should be boolean, got {exclusive}"), sev,
                )
        else:
            if value is None:
                return None
            if not bound_is_ok(value):
                return simple_check(
                    F.lit(False), ctx.schema_path, ctx.instance_path, keyword,
                    f" could not compare with {value}", sev,
                )
            if broken_flag:
                return simple_check(
                    F.lit(False), ctx.schema_path, ctx.instance_path, keyword,
                    f"exclusive flag should be boolean, got {exclusive}", sev,
                )
        view = _as(family, target, ctx.dtype)
        if view is None:
            return None  # non-applicable values pass (comparator ladder)
        val, dt, skip = view
        v = value_expr(val, dt)
        if data is not None:
            shown = [F.lit(f" {_op_sym(eff_op)} "), bound_col.cast("string")]
            skip = bound_col.isNull() | skip
        else:
            bound_col = F.lit(_i64_guard(value))
            shown = [F.lit(f" {_op_sym(eff_op)} {value}")]
        ok = F.when(skip, F.lit(True)).otherwise(getattr(operator, eff_op)(v, bound_col))
        msg = F.concat(F.lit(f"expected{message} "), v.cast("string"), *shown)
        return simple_check(ok, ctx.schema_path, ctx.instance_path, keyword, msg, sev)

    return fn


def _op_sym(op: str) -> str:
    return {"ge": ">=", "gt": ">", "le": "<=", "lt": "<"}[op]


def bound_is_ok_dtype(dt, bound_is_ok) -> bool:
    if bound_is_ok is _is_number_py:
        return _is_numeric(dt)
    return isinstance(dt, T.StringType) or _is_numeric(dt)


def _is_number_py(x) -> bool:
    return isinstance(x, (int, float)) and not isinstance(x, bool)


def _is_str_py(x) -> bool:
    return isinstance(x, str)


def _count_props(obj: Column, dt) -> Column:
    """Number of properties; a struct counts its non-null fields (nil =
    missing, as everywhere in the engine)."""
    if isinstance(dt, T.StructType):
        cnt = None
        for fname in dt.fieldNames():
            term = obj.getField(fname).isNotNull().cast("int")
            cnt = term if cnt is None else cnt + term
        return F.lit(0) if cnt is None else cnt
    return F.size(F.map_keys(obj))


_ident = lambda c, dt: c  # noqa: E731
_length = lambda c, dt: F.length(c)  # noqa: E731
_size = lambda c, dt: F.size(c)  # noqa: E731

for _kw, _op, _family, _expr, _msg in [
    ("minimum", "ge", "number", _ident, ""),
    ("maximum", "le", "number", _ident, ""),
    ("minLength", "ge", "string", _length, " string length"),
    ("maxLength", "le", "string", _length, " string length"),
    ("minItems", "ge", "array", _size, " array length"),
    ("maxItems", "le", "array", _size, " array length"),
    ("minProperties", "ge", "object", _count_props, " number of properties"),
    ("maxProperties", "le", "object", _count_props, " number of properties"),
]:
    register_keyword(_kw, make_comparator(_kw, _op, _family, _expr, _is_number_py, _msg))
_TIME_TZ_RE = r"(Z|[+-]\d+:\d+)$"


def _format_bound(keyword: str, op: str):
    """formatMinimum/Maximum with the reference's compile-time guards
    (core.clj:1114-1140): `format: "unknown"` compiles NO check at all,
    and `format: "time"` strips the trailing timezone from BOTH the value
    and the bound before the lexicographic compare
    (compile-format-coerce, core.clj:1104-1105)."""
    plain = make_comparator(keyword, op, "string", _ident, _is_str_py, "")
    timed = make_comparator(
        keyword, op, "string", lambda c, dt: F.regexp_replace(c, _TIME_TZ_RE, ""), _is_str_py, ""
    )

    def fn(value, schema, target: Column, ctx: Ctx) -> Optional[Compiled]:
        fmt = schema.get("format")
        if fmt == "unknown":
            return None
        if fmt == "time":
            if isinstance(value, dict):  # $data bound needs runtime coercion
                raise ColumnBackendUnsupported(
                    "$data formatM* bound with time coercion needs the Python backend"
                )
            bound = re.sub(_TIME_TZ_RE, "", value) if isinstance(value, str) else value
            return timed(bound, schema, target, ctx)
        return plain(value, schema, target, ctx)

    return fn


register_keyword("formatMinimum", _format_bound("formatMinimum", "ge"))
register_keyword("formatMaximum", _format_bound("formatMaximum", "le"))


def _exclusive_numeric(keyword: str, op: str, absorbed_by: str):
    """Draft-6 standalone numeric exclusiveMinimum/Maximum — compiles to
    nothing when the absorbing bound keyword is present (core.clj:1005-1020,
    1040-1055)."""

    def fn(value, schema, target: Column, ctx: Ctx) -> Optional[Compiled]:
        if absorbed_by in schema:
            return None
        if isinstance(value, bool):
            # bare draft-4 flag with no absorbing bound: the reference
            # compiles a comparator whose BOUND is the boolean, which fails
            # bound-applicability on every value (core.clj:1006-1023,113-114;
            # it tags the error :maximum/:minimum — we keep the keyword's own
            # name, consistent with our numeric-standalone tagging)
            return simple_check(
                F.lit(False), ctx.schema_path, ctx.instance_path, keyword,
                f" could not compare with {str(value).lower()}", ctx.severity(keyword),
            )
        return make_comparator(keyword, op, "number", _ident, _is_number_py, "")(
            value, schema, target, ctx
        )

    return fn


register_keyword("exclusiveMinimum", _exclusive_numeric("exclusiveMinimum", "gt", "minimum"))
register_keyword("exclusiveMaximum", _exclusive_numeric("exclusiveMaximum", "lt", "maximum"))


def _compile_multiple_of(keyword: str):
    def fn(value, schema, target: Column, ctx: Ctx) -> Optional[Compiled]:
        sev = ctx.severity(keyword)
        view = _as("number", target, ctx.dtype, T.DecimalType(38, 10))
        if view is None:
            return None
        num, dt, skip = view
        data = _maybe_data(value, ctx)
        if data is not None:
            bound_col, bound_dt = data
            if bound_dt is not None and not _is_numeric(bound_dt):
                return _const_fail(ctx, keyword, f"could not find multiple of $data {value['$data']}")
            dec = target.cast(T.DecimalType(38, 10))
            bdec = bound_col.cast(T.DecimalType(38, 10))
            # non-negative-ratio quirk: is-divider? matches the PRINTED ratio
            # against ^\d+(\.0)?$ (core.clj:419-421), so a negative quotient
            # is never a valid multiple
            sign_ok = (target >= 0) == (bound_col >= F.lit(0))
            # zero runtime divisor: nothing but v == 0 is a multiple of 0
            # (matches _is_divider, pyvalidator/validator.py — the CaseWhen
            # keeps ANSI mode from evaluating % on the zero rows)
            div_ok = F.when(bdec == F.lit(0), F.lit(False)).otherwise(dec % bdec == F.lit(0))
            ok = F.when(bound_col.isNull() | target.isNull(), F.lit(True)).otherwise(
                (target == F.lit(0)) | (sign_ok & div_ok)
            )
            return simple_check(ok, ctx.schema_path, ctx.instance_path, keyword,
                                F.concat(F.lit("expected "), target.cast("string"),
                                         F.lit(" is multiple of "), bound_col.cast("string")), sev)
        if not _is_number_py(value):
            return None
        # exact decimal remainder — reference tests the printed exact
        # rational (is-divider?, core.clj:419-421); DecimalType(38,10)
        # remainder is exact for the bounds the suite exercises
        # non-negative-ratio quirk (is-divider?, core.clj:419-421): the
        # printed quotient must match ^\d+(\.0)?$, so negative multiples fail
        sign_ok = (num >= 0) if value >= 0 else (num <= 0)
        if value == 0:
            # zero divisor: only v == 0 passes — the reference's int path
            # throws on (/ v 0) (ungraded surface); we keep the Python
            # backend's graceful contract (_is_divider: d == 0 -> False)
            ok = num == F.lit(0)
        elif _is_integral(dt) and isinstance(value, int):
            ok = (num == F.lit(0)) | (
                sign_ok & (F.pmod(num, F.lit(_i64_guard(value))) == F.lit(0))
            )
        else:
            if abs(value) >= 10**28:
                # DecimalType(38,10) holds 28 integral digits; a wider
                # bound would overflow to null/ANSI-error instead of the
                # reference's exact rational — fall back
                raise ColumnBackendUnsupported(
                    "multipleOf bound beyond 28 digits needs the Python backend"
                )
            dec = num.cast(T.DecimalType(38, 10))
            bdec = F.lit(Decimal(str(value))).cast(T.DecimalType(38, 10))
            ok = (num == F.lit(0)) | (sign_ok & (dec % bdec == F.lit(0)))
        ok = F.when(skip, F.lit(True)).otherwise(ok)
        verb = "multiple of" if keyword == "multipleOf" else "divisible by"
        msg = F.concat(F.lit("expected "), target.cast("string"), F.lit(f" is {verb} {value}"))
        return simple_check(ok, ctx.schema_path, ctx.instance_path, keyword, msg, sev)

    return fn


register_keyword("multipleOf", _compile_multiple_of("multipleOf"))
register_keyword("divisibleBy", _compile_multiple_of("divisibleBy"))


# ---------------------------------------------------------------------------
# pattern / format


@register_keyword("pattern")
def _compile_pattern(value, schema, target: Column, ctx: Ctx) -> Optional[Compiled]:
    sev = ctx.severity("pattern")
    view = _as("string", target, ctx.dtype)
    if view is None:
        return None  # non-strings pass (core.clj:1363 guard)
    s, _, skip = view
    data = _maybe_data(value, ctx)
    if data is not None:
        pat_col, _ = data
        # find-semantics regex with a non-foldable pattern (Spark >= 3.0)
        ok = F.when(pat_col.isNull() | skip, F.lit(True)).otherwise(F.rlike(s, pat_col))
        msg = F.concat(F.lit("expected "), F.coalesce(s, F.lit("null")), F.lit(" matches "), pat_col)
        return simple_check(ok, ctx.schema_path, ctx.instance_path, "pattern", msg, sev)
    # re-find semantics == rlike (substring match), same java.util.regex
    # dialect as the reference (core.clj:1354-1377)
    ok = F.when(skip, F.lit(True)).otherwise(s.rlike(value))
    msg = F.concat(F.lit("expected "), F.coalesce(s, F.lit("null")), F.lit(f" matches {value}"))
    return simple_check(ok, ctx.schema_path, ctx.instance_path, "pattern", msg, sev)


@register_keyword("format")
def _compile_format(value, schema, target: Column, ctx: Ctx) -> Optional[Compiled]:
    sev = ctx.severity("format")
    view = _as("string", target, ctx.dtype)
    if view is None:
        return None  # format applies to strings only (core.clj:1336,1344)
    s, _, skip = view
    if isinstance(value, dict) and "$data" in value:
        raise ColumnBackendUnsupported("$data format name needs the Python backend")
    fmt = str(value)
    ok = formats.format_ok(s, fmt)
    if ok is None:
        if fmt in formats.FUNCTIONAL_FORMATS:
            raise ColumnBackendUnsupported(f"format {fmt!r} needs the Python backend")
        return _const_fail(ctx, "format", f"Unknown format {fmt}")
    ok = F.when(skip, F.lit(True)).otherwise(ok)
    return simple_check(
        ok, ctx.schema_path, ctx.instance_path, "format", f"expected format {fmt}", sev
    )


# ---------------------------------------------------------------------------
# object keywords


def _field_or_none(target: Column, dtype, key: str):
    """(column, dtype) for an object member; None if statically absent."""
    if isinstance(dtype, T.StructType):
        if key not in dtype.fieldNames():
            return None
        return target.getField(key), dtype[key].dataType
    if isinstance(dtype, T.MapType):
        return F.element_at(target, F.lit(key)), dtype.valueType
    # unknown dtype: assume struct-style access
    return target.getField(key), None


@register_keyword("properties")
def _compile_properties(value, schema, target: Column, ctx: Ctx) -> Optional[Compiled]:
    view = _as("object", target, ctx.dtype)
    if view is None or not isinstance(value, dict):
        return None
    obj, dt, skip = view
    comps = []
    for key, subschema in value.items():
        # draft-3 per-property {required: true} hoisting (core.clj:375-380)
        sub = subschema
        if isinstance(sub, dict) and sub.get("required") is True:
            sub = {k: v for k, v in sub.items() if k != "required"}
            fd = _field_or_none(obj, dt, key)
            present = F.lit(False) if fd is None else _present(*fd)
            comps.append(
                simple_check(
                    present,
                    ctx.schema_path + (key, "required"),
                    ctx.instance_path,
                    "required",
                    f"Property {key} is required",
                    ctx.severity("required"),
                )
            )
        fd = _field_or_none(obj, dt, key)
        if fd is None:
            continue  # statically absent key never violates (presence-guarded)
        col, cdt = fd
        child_ctx = replace(
            ctx,
            schema_path=ctx.schema_path + (key,),
            instance_path=ctx.instance_path + (key,),
            dtype=cdt,
        )
        child = compile_schema(sub, col, child_ctx)
        # applied only when present AND non-nil (core.clj:367-389)
        comps.append(_guard(_absent(col, cdt), child))
    if not comps:
        return None
    out = merge(comps)
    # non-objects pass; a null object passes
    return _guard(skip, out)


@register_keyword("required")
def _compile_required(value, schema, target: Column, ctx: Ctx) -> Optional[Compiled]:
    if value is True or value is False:
        return None  # draft-3 boolean form is hoisted by `properties`
    sev = ctx.severity("required")
    data = _maybe_data(value, ctx)
    if data is not None:
        raise ColumnBackendUnsupported("$data required list needs the Python backend")
    view = _as("object", target, ctx.dtype)
    if view is None:
        return None
    obj, dt, skip = view
    comps = []
    for key in value:
        fd = _field_or_none(obj, dt, key)
        # nil counts as missing (has-property?, core.clj:852-854)
        present = F.lit(False) if fd is None else F.coalesce(_present(*fd), F.lit(False))
        comps.append(
            simple_check(
                present,
                ctx.schema_path,
                ctx.instance_path,
                "required",
                f"Property {key} is required",
                sev,
            )
        )
    out = merge(comps)
    return _guard(skip, out)


@register_keyword("dependencies")
def _compile_dependencies(value, schema, target: Column, ctx: Ctx) -> Optional[Compiled]:
    # the reference's `contains?` (core.clj:564,571,585) counts a
    # nil-VALUED key as present/satisfied.  A Variant keeps that (a JSON
    # null member is a non-NULL variant); a typed column cannot tell
    # absent from null, so there it is a documented conflation boundary,
    # like every other keyword (the Python backend carries the exact
    # contains? semantics for map-shaped documents).
    # Error shape also differs deliberately: one violation per missing
    # dep (richer for violation_rows) vs the reference's single
    # aggregated "(…) are required" message.
    sev = ctx.severity("dependencies")
    view = _as("object", target, ctx.dtype)
    if view is None:
        return None
    obj, dt, skip = view
    comps = []
    for key, dep in value.items():
        fd = _field_or_none(obj, dt, key)
        if fd is None:
            continue
        present = fd[0].isNotNull()
        if isinstance(dep, str):
            dep = [dep]
        if isinstance(dep, list):
            for d in dep:
                dfd = _field_or_none(obj, dt, d)
                dep_ok = F.lit(False) if dfd is None else dfd[0].isNotNull()
                comps.append(
                    simple_check(
                        ~present | dep_ok,
                        ctx.schema_path + (key,),
                        ctx.instance_path,
                        "dependencies",
                        f"Property {d} is required when {key} is present",
                        sev,
                    )
                )
        else:
            child = compile_schema(dep, target, replace(ctx, schema_path=ctx.schema_path + (key,)))
            comps.append(
                Compiled(
                    ok=~present | child.ok,
                    violations=F.when(present, child.violations).otherwise(_empty()),
                )
            )
    if not comps:
        return None
    return _guard(skip, merge(comps))


@register_keyword("exclusiveProperties")
def _compile_exclusive_properties(value, schema, target: Column, ctx: Ctx) -> Optional[Compiled]:
    """Custom keyword: groups of mutually exclusive keys (core.clj:532-552,
    tests /root/reference/test/json_schema/custom_extensions_test.clj:44-68)."""
    sev = ctx.severity("exclusiveProperties")
    view = _as("object", target, ctx.dtype)
    if view is None:
        return None
    obj, dt, skip = view
    comps = []
    for group in value:
        props = group.get("properties", [])
        required = group.get("required", False)
        cnt = None
        for p in props:
            fd = _field_or_none(obj, dt, p)
            present = F.lit(0) if fd is None else fd[0].isNotNull().cast("int")
            cnt = present if cnt is None else cnt + present
        if cnt is None:
            cnt = F.lit(0)  # an empty group: "required" can never hold
        names = ", ".join(props)
        if required:
            comps.append(
                simple_check(
                    cnt >= F.lit(1), ctx.schema_path, ctx.instance_path, "exclusiveProperties",
                    f"One of properties {names} is required", sev,
                )
            )
        comps.append(
            simple_check(
                cnt <= F.lit(1), ctx.schema_path, ctx.instance_path, "exclusiveProperties",
                f"Properties {names} are mutually exclusive", sev,
            )
        )
    return _guard(skip, merge(comps))


@register_keyword("discriminator")
def _compile_discriminator(value, schema, target: Column, ctx: Ctx) -> Optional[Compiled]:
    """Dispatch on a property's value to #/definitions/<value>
    (core.clj:519-530) — the closed definition set is known at compile time,
    so this compiles to a CASE WHEN chain over inlined child check trees."""
    sev = ctx.severity("discriminator")
    defs = (ctx.root_schema or schema).get("definitions", {})
    view = _as("object", target, ctx.dtype)
    if view is None:
        return None
    obj, dt, skip = view
    fd = _field_or_none(obj, dt, value)
    if fd is None:
        return Compiled.passed()
    tag_col = _value(fd[0], fd[1], T.StringType())
    # unresolvable tag → error
    unresolved = violation(
        ctx.schema_path, ctx.instance_path, "discriminator",
        F.concat(F.lit("Could not resolve #/definitions/"), tag_col), sev,
    )
    ok_expr = F.lit(False)
    viol_expr = unresolved
    for name in reversed(list(defs.keys())):
        child = compile_schema(
            defs[name], target, replace(ctx, schema_path=ctx.schema_path + ("definitions", name))
        )
        ok_expr = F.when(tag_col == F.lit(name), child.ok).otherwise(ok_expr)
        viol_expr = F.when(tag_col == F.lit(name), child.violations).otherwise(viol_expr)
    # absent tag → pass (core.clj:523 if-let)
    ok = F.when(tag_col.isNull(), F.lit(True)).otherwise(ok_expr)
    viols = F.when(tag_col.isNull(), _empty()).otherwise(viol_expr)
    return _guard(skip, Compiled(ok=ok, violations=viols))


def _per_entry(entries: Column, compile_entry: Callable, hit: Callable) -> Compiled:
    """Validate each map entry whose key is a `hit`, as one HOF pass."""

    def per_entry(e):
        child = compile_entry(e)
        h = hit(e["key"])
        return F.struct(
            F.when(h, child.ok).otherwise(F.lit(True)).alias("ok"),
            F.when(h, child.violations).otherwise(_empty()).alias("v"),
        )

    checked = F.transform(entries, per_entry)
    return Compiled(
        ok=F.forall(checked, lambda s: s["ok"]),
        violations=F.flatten(F.transform(checked, lambda s: s["v"])),
    )


@register_keyword("patternProperties")
def _compile_pattern_properties(value, schema, target: Column, ctx: Ctx) -> Optional[Compiled]:
    """For each key matching a regex, the value validates (core.clj:590-611).
    MapType targets (and Variant objects) get HOF plans; StructType targets
    resolve the matching keys at compile time (closed world)."""
    view = _as("object", target, ctx.dtype)
    if view is None:
        return None
    obj, dt, skip = view
    comps = []
    if isinstance(dt, T.StructType):
        for pat, sub in value.items():
            rx = re.compile(pat)
            for fname in dt.fieldNames():
                if rx.search(fname):
                    col = obj.getField(fname)
                    child = compile_schema(
                        sub,
                        col,
                        replace(
                            ctx,
                            schema_path=ctx.schema_path + (pat,),
                            instance_path=ctx.instance_path + (fname,),
                            dtype=dt[fname].dataType,
                        ),
                    )
                    comps.append(_guard(col.isNull(), child))
        if not comps:
            return None
        return _guard(skip, merge(comps))
    if isinstance(dt, T.MapType):
        # NB: capture via factory, NOT lambda default args — PySpark infers
        # HOF lambda arity from the parameter count, so default args turn a
        # 1-arg lambda into the (x, i) form and the capture receives the
        # element INDEX column
        def make_entry(_pat, _sub):
            return lambda e: compile_schema(
                _sub,
                e["value"],
                replace(
                    ctx,
                    schema_path=ctx.schema_path + (_pat,),
                    instance_path=ctx.instance_path + (e["key"],),
                    dtype=dt.valueType,
                ),
            )

        def make_hit(_pat):
            return lambda k: k.rlike(_pat)

        for pat, sub in value.items():
            comps.append(_per_entry(F.map_entries(obj), make_entry(pat, sub), make_hit(pat)))
        return _guard(skip, merge(comps))
    raise ColumnBackendUnsupported("patternProperties needs a struct or map target")


@register_keyword("additionalProperties")
def _compile_additional_properties(value, schema, target: Column, ctx: Ctx) -> Optional[Compiled]:
    """Keys beyond properties/patternProperties/patternGroups must not exist
    (false) or must validate (schema) — core.clj:806-849."""
    props = set((schema.get("properties") or {}).keys())
    pats = list(schema.get("patternProperties") or {}) + list(schema.get("patternGroups") or {})
    sev = ctx.severity("additionalProperties")
    view = _as("object", target, ctx.dtype)
    if view is None:
        return None
    obj, dt, skip = view
    if isinstance(dt, T.StructType):
        extras = [
            f for f in dt.fieldNames()
            if f not in props and not any(re.compile(p).search(f) for p in pats)
        ]
        comps = []
        for fname in extras:
            col = obj.getField(fname)
            if value is False:
                # a present (non-null) extra field is an error; struct columns
                # conflate absent/null exactly like the reference's maps
                comps.append(
                    simple_check(
                        col.isNull(),
                        ctx.schema_path,
                        ctx.instance_path + (fname,),
                        "additionalProperties",
                        "extra property",
                        sev,
                    )
                )
            elif isinstance(value, dict):
                child = compile_schema(
                    value,
                    col,
                    replace(ctx, instance_path=ctx.instance_path + (fname,),
                            dtype=dt[fname].dataType),
                )
                comps.append(_guard(col.isNull(), child))
        if not comps:
            return None
        return _guard(skip, merge(comps))
    if isinstance(dt, T.MapType):
        def is_extra(k):
            cond = F.lit(True)
            for p in props:
                cond = cond & (k != F.lit(p))
            for p in pats:
                cond = cond & ~k.rlike(p)
            return cond

        if value is False:
            extras = F.filter(F.map_keys(obj), is_extra)

            def viol_for(k):
                return F.struct(
                    F.array(*[F.lit(s) for s in ctx.schema_path]).alias("keyword_path"),
                    F.array(*([F.lit(str(s)) if not isinstance(s, Column) else s.cast("string")
                               for s in ctx.instance_path] + [k])).alias("instance_path"),
                    F.lit("additionalProperties").alias("keyword"),
                    F.lit("extra property").alias("message"),
                    F.lit(sev).alias("severity"),
                )

            return _guard(
                skip, Compiled(ok=F.size(extras) == 0, violations=F.transform(extras, viol_for))
            )
        if isinstance(value, dict):
            def entry(e):
                return compile_schema(
                    value,
                    e["value"],
                    replace(ctx, instance_path=ctx.instance_path + (e["key"],),
                            dtype=dt.valueType),
                )

            return _guard(skip, _per_entry(F.map_entries(obj), entry, is_extra))
        return None
    raise ColumnBackendUnsupported("additionalProperties needs a struct or map target")


@register_keyword("propertyNames")
def _compile_property_names(value, schema, target: Column, ctx: Ctx) -> Optional[Compiled]:
    """Every key name validates as a string (core.clj:1393-1409)."""
    sev = ctx.severity("propertyNames")
    view = _as("object", target, ctx.dtype)
    if view is None:
        return None
    obj, dt, skip = view
    if isinstance(dt, T.StructType):
        comps = []
        for fname in dt.fieldNames():
            child = compile_schema(value, F.lit(fname), replace(ctx, dtype=T.StringType()))
            # struct fields conflate absent/null (the engine's has-property
            # view, mirrored from the reference's nil-is-missing): a NULL
            # field is an ABSENT key, so its name is not checked — found by
            # differential fuzz seed 4000765 (doc {} vs struct<a,b>: the
            # unconditional check flagged the never-present field b)
            present = obj.isNotNull() & obj.getField(fname).isNotNull()
            ok = F.when(~present, F.lit(True)).otherwise(child.ok)
            comps.append(
                simple_check(
                    ok, ctx.schema_path, ctx.instance_path, "propertyNames",
                    f"Invalid property name - {fname}", sev,
                )
            )
        return merge(comps)
    if isinstance(dt, T.MapType):
        def name_ok(k):
            return compile_schema(value, k, replace(ctx, dtype=T.StringType())).ok

        bad = F.filter(F.map_keys(obj), lambda k: ~name_ok(k))
        ok = F.size(bad) == 0
        msg = F.concat(F.lit("Invalid property name - "), F.array_join(bad, ", "))
        c = simple_check(ok, ctx.schema_path, ctx.instance_path, "propertyNames", msg, sev)
        return _guard(skip, c)
    raise ColumnBackendUnsupported("propertyNames needs a struct or map target")


@register_keyword("patternGroups")
def _compile_pattern_groups(value, schema, target: Column, ctx: Ctx) -> Optional[Compiled]:
    """v5 patternGroups (core.clj:613-646): each key matching a group's
    regex validates against the group schema, and the matching-key count
    honors the group's minimum/maximum."""
    sev = ctx.severity("patternGroups")
    view = _as("object", target, ctx.dtype)
    if view is None:
        return None
    obj, dt, skip = view

    def count_checks(cnt: Column, mn, mx) -> list:
        out = []
        if mn is not None:
            out.append(simple_check(
                cnt >= F.lit(_i64_guard(mn)), ctx.schema_path, ctx.instance_path, "patternGroups",
                F.concat(F.lit("patternGroup expects number of matched props "),
                         cnt.cast("string"), F.lit(f" > {mn}")), sev))
        if mx is not None:
            out.append(simple_check(
                cnt <= F.lit(_i64_guard(mx)), ctx.schema_path, ctx.instance_path, "patternGroups",
                F.concat(F.lit("patternGroup expects number of matched props "),
                         cnt.cast("string"), F.lit(f" < {mx}")), sev))
        return out

    comps = []
    if isinstance(dt, T.StructType):
        for pat, group in value.items():
            sub = group.get("schema", True)
            rx = re.compile(pat)
            matching = [f for f in dt.fieldNames() if rx.search(f)]
            for fname in matching:
                col = obj.getField(fname)
                child = compile_schema(
                    sub, col,
                    replace(ctx, schema_path=ctx.schema_path + (pat,),
                            instance_path=ctx.instance_path + (fname,),
                            dtype=dt[fname].dataType),
                )
                comps.append(_guard(col.isNull(), child))
            # presence count (nil = missing, as everywhere in the engine)
            cnt = F.lit(0)
            for fname in matching:
                cnt = cnt + obj.getField(fname).isNotNull().cast("int")
            comps.extend(count_checks(cnt, group.get("minimum"), group.get("maximum")))
        if not comps:
            return None
        return _guard(skip, merge(comps))
    if isinstance(dt, T.MapType):
        # factory capture, not lambda defaults — see patternProperties note
        def make_entry(_pat, _sub):
            return lambda e: compile_schema(
                _sub, e["value"],
                replace(ctx, schema_path=ctx.schema_path + (_pat,),
                        instance_path=ctx.instance_path + (e["key"],),
                        dtype=dt.valueType),
            )

        def make_hit(_pat):
            return lambda k: k.rlike(_pat)

        for pat, group in value.items():
            sub = group.get("schema", True)
            comps.append(_per_entry(F.map_entries(obj), make_entry(pat, sub), make_hit(pat)))
            cnt = F.size(F.filter(F.map_keys(obj), make_hit(pat)))
            comps.extend(count_checks(cnt, group.get("minimum"), group.get("maximum")))
        return _guard(skip, merge(comps))
    raise ColumnBackendUnsupported("patternGroups needs a struct or map target")


@register_keyword("patternRequired")
def _compile_pattern_required(value, schema, target: Column, ctx: Ctx) -> Optional[Compiled]:
    """Each regex must be matched by some key (core.clj:889-909)."""
    sev = ctx.severity("patternRequired")
    view = _as("object", target, ctx.dtype)
    if view is None or not isinstance(view[1], (T.StructType, T.MapType)):
        return None
    obj, dt, skip = view
    comps = []
    for pat in value:
        if isinstance(dt, T.StructType):
            rx = re.compile(pat)
            ok = F.lit(False)
            for fname in dt.fieldNames():
                if rx.search(fname):
                    ok = ok | obj.getField(fname).isNotNull()
        else:
            ok = F.exists(F.map_keys(obj), lambda k: k.rlike(pat))
        comps.append(
            simple_check(
                ok, ctx.schema_path, ctx.instance_path, "patternRequired",
                f"no properites, which matches {pat}", sev,
            )
        )
    return _guard(skip, merge(comps))


# ---------------------------------------------------------------------------
# array keywords


def _each(arr: Column, compile_elem: Callable) -> Compiled:
    """Validate every element `(x, i)` of an array as one HOF pass."""

    def per_elem(x, i):
        c = compile_elem(x, i)
        return F.struct(c.ok.alias("ok"), c.violations.alias("v"))

    checked = F.transform(arr, per_elem)
    return Compiled(
        ok=F.forall(checked, lambda s: s["ok"]),
        violations=F.flatten(F.transform(checked, lambda s: s["v"])),
    )


@register_keyword("items")
def _compile_items(value, schema, target: Column, ctx: Ctx) -> Optional[Compiled]:
    sev = ctx.severity("items")
    view = _as("array", target, ctx.dtype)
    if view is None:
        if isinstance(value, list):
            # reference quirk (core.clj:1451-1452): TUPLE-form items on a
            # non-sequential value is an error (the single-schema form
            # passes through) — a known-non-array column fails every
            # non-null row
            return _guard(
                target.isNull(),
                simple_check(
                    F.lit(False), ctx.schema_path, ctx.instance_path,
                    "items", "expected array", sev,
                ),
            )
        return None
    arr, dt, skip = view
    elem_dt = dt.elementType if isinstance(dt, T.ArrayType) else None
    if isinstance(value, list):
        # tuple form + additionalItems (core.clj:1444-1479); a Variant
        # answers the non-array quirk above per row
        shape = []
        if _is_variant(ctx.dtype):
            shape.append(simple_check(
                target.isNull() | _vtag_is("array", target), ctx.schema_path,
                ctx.instance_path, "items", "expected array", sev,
            ))
        if schema.get("additionalItems") is True:
            # core.clj:1462: `(= true ai)` returns ctx before ANY
            # positional validator runs — additionalItems: true disables
            # tuple validation entirely (array-typed values all pass)
            return merge(shape) if shape else None
        comps = []
        for i, sub in enumerate(value):
            elem = F.element_at(arr, i + 1)
            child_ctx = replace(
                ctx,
                schema_path=ctx.schema_path + (str(i),),
                instance_path=ctx.instance_path + (i,),
                dtype=elem_dt,
            )
            child = compile_schema(sub, elem, child_ctx)
            # position beyond array length → pass
            comps.append(_guard(F.size(arr) <= F.lit(i), child))
        ai = schema.get("additionalItems")
        n = len(value)
        if ai is False:
            comps.append(
                simple_check(
                    F.size(arr) <= F.lit(n),
                    ctx.schema_path[:-1] + ("additionalItems",),
                    ctx.instance_path,
                    "additionalItems",
                    "no additional items allowed",
                    ctx.severity("additionalItems"),
                )
            )
        elif isinstance(ai, dict):
            extras = F.slice(arr, n + 1, F.greatest(F.size(arr) - F.lit(n), F.lit(0)))
            comps.append(_each(extras, lambda x, i: compile_schema(
                ai,
                x,
                replace(
                    ctx,
                    schema_path=ctx.schema_path[:-1] + ("additionalItems",),
                    instance_path=ctx.instance_path + (i + F.lit(n),),
                    dtype=elem_dt,
                ),
            )))
        return merge(shape + [_guard(skip, merge(comps))])
    if not isinstance(value, (dict, bool)):
        return None  # not a schema: no validator, as in the Python backend

    out = _each(arr, lambda x, i: compile_schema(
        value,
        x,
        replace(ctx, instance_path=ctx.instance_path + (i,), dtype=elem_dt),
    ))
    return _guard(skip, out)


def _canonical(arr: Column, dt) -> Column:
    """Elements in a form Spark can compare.  Variant equality is not
    defined, so a Variant element becomes its type tag + JSON text: the
    tag keeps 1 ≠ 1.0 (both print as "1"), and the variant encoding stores
    object fields sorted, so key-order-permuted objects print alike at
    every depth (Clojure `=` map semantics)."""
    if isinstance(dt, T.ArrayType) and _is_variant(dt.elementType):
        return F.transform(arr, lambda x: F.concat_ws(":", F.schema_of_variant(x), F.to_json(x)))
    return arr


@register_keyword("uniqueItems")
def _compile_unique_items(value, schema, target: Column, ctx: Ctx) -> Optional[Compiled]:
    view = _as("array", target, ctx.dtype)
    if view is None:
        return None
    arr, dt, skip = view
    data = _maybe_data(value, ctx)
    flag_col = None
    if data is not None:
        flag_col = data[0]
    elif value is not True:
        return None
    sev = ctx.severity("uniqueItems")
    # structural equality on nested types matches Clojure value equality
    arr = _canonical(arr, dt)
    ok = F.size(F.array_distinct(arr)) == F.size(arr)
    if flag_col is not None:
        ok = F.when(flag_col.isNull() | ~flag_col.cast("boolean"), F.lit(True)).otherwise(ok)
    ok = F.when(skip, F.lit(True)).otherwise(ok)
    return simple_check(
        ok, ctx.schema_path, ctx.instance_path, "uniqueItems", "expected unique items", sev
    )


@register_keyword("contains")
def _compile_contains(value, schema, target: Column, ctx: Ctx) -> Optional[Compiled]:
    view = _as("array", target, ctx.dtype)
    if view is None:
        return None  # non-arrays pass (test/v5/contains.json:23-27)
    arr, dt, skip = view
    sev = ctx.severity("contains")
    elem_dt = dt.elementType if isinstance(dt, T.ArrayType) else None

    def pred(x):
        return compile_schema(value, x, replace(ctx, dtype=elem_dt)).ok

    ok = F.when(skip, F.lit(True)).otherwise(F.exists(arr, pred))
    return simple_check(
        ok, ctx.schema_path, ctx.instance_path, "contains",
        "expected some element to match the contains schema", sev,
    )


@register_keyword("subset")
def _compile_subset(value, schema, target: Column, ctx: Ctx) -> Optional[Compiled]:
    """Custom keyword: the value array must be a subset of a reference array,
    usually via $data (core.clj:1411-1419, tests
    custom_extensions_test.clj:218-278)."""
    view = _as("array", target, ctx.dtype)
    if view is None:
        return None
    arr, dt, skip = view
    sev = ctx.severity("subset")
    data = _maybe_data(value, ctx)
    if data is not None:
        ref_col = data[0]
        skip = skip | ref_col.isNull()
    elif _is_variant(ctx.dtype):
        # Variant elements compare by their JSON text
        arr = F.transform(arr, lambda x: F.to_json(x))
        ref_col = F.array(*[F.lit(json.dumps(m)) for m in value])
    else:
        ref_col = F.array(*[_scalar_lit(v) for v in value])
    ok = F.when(skip, F.lit(True)).otherwise(F.size(F.array_except(arr, ref_col)) == F.lit(0))
    return simple_check(
        ok, ctx.schema_path, ctx.instance_path, "subset", "expected a subset of the reference array", sev
    )


# ---------------------------------------------------------------------------
# combinators (core.clj:648-804)


def _subschemas(options, target, ctx: Ctx):
    return [
        compile_schema(o, target, replace(ctx, schema_path=ctx.schema_path + (str(i),)))
        for i, o in enumerate(options)
    ]


@register_keyword("allOf")
def _compile_all_of(value, schema, target: Column, ctx: Ctx) -> Compiled:
    return merge(_subschemas(value, target, ctx))


@register_keyword("extends")
def _compile_extends(value, schema, target: Column, ctx: Ctx) -> Compiled:
    opts = value if isinstance(value, list) else [value]
    return merge(_subschemas(opts, target, ctx))


@register_keyword("anyOf")
def _compile_any_of(value, schema, target: Column, ctx: Ctx) -> Compiled:
    sev = ctx.severity("anyOf")
    ok = functools.reduce(operator.or_, [_probe_ok(o, target, ctx) for o in value])
    return simple_check(
        ok, ctx.schema_path, ctx.instance_path, "anyOf", "Non alternatives are valid", sev
    )


@register_keyword("oneOf")
def _compile_one_of(value, schema, target: Column, ctx: Ctx) -> Compiled:
    sev = ctx.severity("oneOf")
    oks = [_probe_ok(o, target, ctx) for o in value]
    cnt = None
    for o in oks:
        term = o.cast("int")
        cnt = term if cnt is None else cnt + term
    ok = cnt == F.lit(1)
    msg = F.when(cnt > F.lit(1), F.lit("expected one of, but more then one are valid")).otherwise(
        F.lit("expected one of, but no one is valid")
    )
    return simple_check(ok, ctx.schema_path, ctx.instance_path, "oneOf", msg, sev)


@register_keyword("not")
def _compile_not(value, schema, target: Column, ctx: Ctx) -> Compiled:
    sev = ctx.severity("not")
    ok = ~_probe_ok(value, target, ctx)
    return simple_check(
        ok, ctx.schema_path, ctx.instance_path, "not", f"Expected not {json.dumps(value)}", sev
    )


@register_keyword("disallow")
def _compile_disallow(value, schema, target: Column, ctx: Ctx) -> Compiled:
    sev = ctx.severity("disallow")
    opts = value if isinstance(value, list) else [value]
    any_ok = functools.reduce(operator.or_, [
        _probe_ok({"type": o} if isinstance(o, str) else o, target, ctx) for o in opts
    ])
    return simple_check(
        ~any_ok, ctx.schema_path, ctx.instance_path, "disallow",
        f"Disallowed by {json.dumps(value)}", sev,
    )


@register_keyword("if")
def _compile_if(value, schema, target: Column, ctx: Ctx) -> Compiled:
    # (or th true) quirk, core.clj:735-736: then/else of FALSE coerces to
    # true (Clojure `or` skips falsy), never an always-fail schema
    th_s, el_s = schema.get("then"), schema.get("else")
    th_s = True if th_s is None or th_s is False else th_s
    el_s = True if el_s is None or el_s is False else el_s
    cond = _probe_ok(value, target, ctx)
    th = compile_schema(th_s, target, replace(ctx, schema_path=ctx.schema_path[:-1] + ("then",)))
    el = compile_schema(el_s, target, replace(ctx, schema_path=ctx.schema_path[:-1] + ("else",)))
    return Compiled(
        ok=F.when(cond, th.ok).otherwise(el.ok),
        violations=F.when(cond, th.violations).otherwise(el.violations),
    )


@register_keyword("switch")
def _compile_switch(value, schema, target: Column, ctx: Ctx) -> Compiled:
    """v5 switch: ordered {if, then, continue} clauses (core.clj:671-722).
    `continue: true` clauses become independent guarded check groups; the
    non-continue tail folds into one CASE WHEN chain."""
    sev = ctx.severity("switch")
    comps: list[Compiled] = []

    def clause_then(cl, kw_path) -> Compiled:
        th = cl.get("then")
        if th is False:
            msg = (
                f"expected not matches {json.dumps(cl.get('if'))}"
                if "if" in cl
                else "switch failed - nothing matched"
            )
            return simple_check(F.lit(False), kw_path, ctx.instance_path, "switch", msg, sev)
        if th is True or th is None:
            return Compiled.passed()
        return compile_schema(th, target, replace(ctx, schema_path=kw_path))

    # split off leading continue-clauses: they always evaluate
    rest = list(value)
    idx = 0
    while rest and rest[0].get("continue") and "if" in rest[0]:
        cl = rest.pop(0)
        cond = _probe_ok(cl["if"], target, ctx)
        th = clause_then(cl, ctx.schema_path + (str(idx),))
        comps.append(
            Compiled(
                ok=F.when(cond, th.ok).otherwise(F.lit(True)),
                violations=F.when(cond, th.violations).otherwise(_empty()),
            )
        )
        idx += 1

    # fold the remaining clauses into first-match-wins CASE WHEN
    ok_expr = F.lit(True)
    viol_expr = _empty()
    for j, cl in reversed(list(enumerate(rest))):
        kw_path = ctx.schema_path + (str(idx + j),)
        th = clause_then(cl, kw_path)
        if "if" in cl:
            cond = _probe_ok(cl["if"], target, ctx)
            ok_expr = F.when(cond, th.ok).otherwise(ok_expr)
            viol_expr = F.when(cond, th.violations).otherwise(viol_expr)
        else:
            ok_expr = th.ok
            viol_expr = th.violations
    comps.append(Compiled(ok=ok_expr, violations=viol_expr))
    return merge(comps)


@register_keyword("$ref")
def _compile_ref(value, schema, target: Column, ctx: Ctx) -> Compiled:
    """Internal $ref inlined from the driver-side registry (reference
    registry atom, core.clj:174-180,972-987).  Recursion is bounded by
    ctx.depth; deeper documents need the Python backend."""
    root = ctx.root_schema or {}
    sub = _resolve_schema_pointer(value, root)
    if sub is None:
        return _const_fail(ctx, "$ref", f"Could not resolve {value}")
    if ctx.depth <= 0:
        raise ColumnBackendUnsupported(f"$ref {value!r} exceeds unroll depth")
    return compile_schema(sub, target, replace(ctx, depth=ctx.depth - 1))


#: combinator keywords whose branches the reference registers at ONE
#: unindexed pointer (core.clj:665,778,790,656,768,356 — `conj path :kw`
#: with first-registration-wins), unlike tuple `items` which registers
#: each position (`into path [:items idx]`, core.clj:1447)
_UNINDEXED_BRANCH_KEYS = frozenset(
    {"anyOf", "oneOf", "allOf", "extends", "disallow", "type"}
)


def _resolve_schema_pointer(ref: str, root: dict):
    """Document-walk $ref resolution mirroring the reference REGISTRY's
    pointer space: a pointer ending at a combinator keyword resolves to
    its FIRST branch (all branches share one registry slot), indexing
    INTO combinator branches fails (the registry never holds those keys),
    and tuple-items positions resolve by index."""
    if ref == "#":
        return root
    if not ref.startswith("#/"):
        return None
    node: Any = root
    prev = None
    for seg in ref[2:].split("/"):
        seg = seg.replace("~1", "/").replace("~0", "~").replace("%25", "%")
        if isinstance(node, dict) and seg in node:
            node = node[seg]
        elif (
            isinstance(node, list)
            and prev not in _UNINDEXED_BRANCH_KEYS
            and seg.isdigit()
            and int(seg) < len(node)
        ):
            node = node[int(seg)]
        else:
            return None
        prev = seg
    if isinstance(node, list):
        if prev in _UNINDEXED_BRANCH_KEYS and node:
            # first-registration-wins — and registration is POST-ORDER
            # (core.clj:160-180: validators are built, recursively
            # registering subschemas, BEFORE the node itself registers), so
            # a first branch carrying a parent-path keyword (if / switch /
            # contains / propertyNames) is itself shadowed by that
            # keyword's subschema at the branch pointer (fuzz seed
            # 10000221: $ref #/.../anyOf where branch 0 has propertyNames)
            if prev == "type":
                # type-union string entries never compile-schema (core.clj:
                # 356 dispatches them through schema-type), so only the
                # first NON-string entry registers; an all-string union
                # leaves the pointer unresolvable
                first = next((b for b in node if not isinstance(b, str)), None)
                return _registry_shadow(first) if first is not None else None
            if prev == "disallow" and isinstance(node[0], str):
                # draft-3 disallow registers string entries as their
                # converted {:type s} map (core.clj:768)
                return {"type": node[0]}
            return _registry_shadow(node[0])
        return None
    if prev == "disallow" and isinstance(node, str):
        # single string form: compiled (and registered) as {:type s}
        return {"type": node}
    if prev == "type" and isinstance(node, str):
        return None  # schema-type strings never register
    return _registry_shadow(node)


def _registry_shadow(node):
    """Mirror the reference's parent-path registrations: if / switch /
    contains / propertyNames compile their subschemas at the PARENT path
    (core.clj:734-736, 679-681, 1383, 1396), and with first-registration-
    wins the first such subschema — in schema key order, recursively —
    shadows the composite node at its own pointer.  The Python backend
    reproduces this through its real registry; this rewrite keeps the
    document-walk resolver pointer-for-pointer identical."""
    while isinstance(node, dict):
        nxt = None
        for k, v in node.items():
            if k in ("if", "contains", "propertyNames"):
                nxt = v
                break
            if k == "switch" and isinstance(v, list):
                # a clause's :if compiles only when Clojure-truthy, its
                # :then only when a map (core.clj:679-681 cond->)
                for cl in v:
                    if isinstance(cl, dict):
                        cif = cl.get("if")
                        if cif is not None and cif is not False:
                            nxt = cif
                            break
                        if isinstance(cl.get("then"), dict):
                            nxt = cl["then"]
                            break
                if nxt is not None:
                    break
        if nxt is None:
            return node
        node = nxt
    return node


@register_keyword("deferred")
def _compile_deferred(value, schema, target: Column, ctx: Ctx) -> Optional[Compiled]:
    """`deferred` emits a side-channel annotation instead of validating
    (core.clj:1421-1425).  On the Column path we route it as a zero-severity
    violation row tagged severity='deferred' so it lands in the same sink."""
    return Compiled(
        ok=F.lit(True),
        violations=violation(
            ctx.schema_path,
            ctx.instance_path,
            "deferred",
            F.lit(json.dumps(value)),
            "deferred",
        ),
    )


# ---------------------------------------------------------------------------
# entry points


def compile_schema(schema, target: Column, ctx: Ctx) -> Compiled:
    """Compile a (sub)schema against a target Column.  Booleans are constant
    validators (core.clj:149-154); maps fold per-keyword compilers."""
    if schema is True or schema == {}:
        return Compiled.passed()
    if schema is False:
        return simple_check(
            F.lit(False), ctx.schema_path, ctx.instance_path, "schema",
            "schema is 'false', which means it's always fails", ctx.severity("schema"),
        )
    if not isinstance(schema, dict):
        return simple_check(
            F.lit(False), ctx.schema_path, ctx.instance_path, "schema",
            f"Invalid schema {schema}", ctx.severity("schema"),
        )
    variant = _is_variant(ctx.dtype)
    if variant and any(isinstance(v, dict) and "$data" in v for v in schema.values()):
        # a Variant compile has no typed row to resolve the pointer in
        raise ColumnBackendUnsupported("$data on a Variant value needs the Python backend")
    comps = []
    for k, v in schema.items():
        if k in NOOP_KEYWORDS:
            continue
        fn = KEYWORD_COMPILERS.get(k)
        if fn is None:
            continue  # unknown keyword: dropped, as in core.clj:1185-1191
        if variant and _BUILT_IN.get(k) is not fn:
            raise ColumnBackendUnsupported(f"registered keyword {k!r} expects a typed target")
        c = fn(v, schema, target, ctx.at_keyword(k))
        if c is not None:
            comps.append(c)
    return merge(comps)


def compile_for_json(
    schema: dict,
    json_col: Column,
    config: Optional[dict] = None,
    parsed_col: Optional[Column] = None,
) -> Compiled:
    """Compile a schema against a raw-JSON string column, as Variant values.

    Uses ``try_parse_json`` so one malformed record yields a per-row
    `$parse` violation instead of failing the whole job (``parse_json``
    raises MALFORMED_RECORD_IN_PARSING executor-side — at 10^12 rows a
    single bad record must not abort the run).  A malformed row fails
    with exactly the parse violation; the schema's checks are suppressed
    for it (the reference never validates a document that didn't parse).

    ``parsed_col``: pass an attribute that already holds
    ``try_parse_json(json_col)`` (materialized in its own projection).
    Without it, Catalyst inlines the parse into EVERY check reference —
    the check tree then re-parses the JSON string ~1× per keyword per row
    (measured 5× slower end to end).  ``engine.validate_json_column``
    always supplies it; direct callers of this function pay the re-parse."""
    v = parsed_col if parsed_col is not None else F.try_parse_json(json_col)
    ctx = Ctx(config=config or {}, root_schema=schema, dtype=T.VariantType())
    inner = compile_schema(schema, v, ctx)
    malformed = json_col.isNotNull() & v.isNull()
    parse_check = simple_check(
        ~malformed, (), (), "$parse", "malformed JSON", "error"
    )
    # coalesce: a null ok (3-valued logic on a null doc) always carries a
    # violation in simple_check, so the row verdict is definitively False
    return Compiled(
        ok=F.when(malformed, F.lit(False)).otherwise(F.coalesce(inner.ok, F.lit(False))),
        violations=F.when(malformed, parse_check.violations).otherwise(inner.violations),
    )


def _compile_table(schema: dict, table_schema: T.StructType, config: Optional[dict],
                   extra_root: Optional[dict]) -> Compiled:
    row = F.struct(*[F.col(f.name).alias(f.name) for f in table_schema.fields])
    ctx = Ctx(
        schema_path=(),
        instance_path=(),
        config=config or {},
        root_schema=extra_root or schema,
        dtype=table_schema,
        root_col=row,
        root_dtype=table_schema,
    )
    return compile_schema(schema, row, ctx)


def parsed_col_name(json_col: str) -> str:
    """The attribute `engine.validate_json_column` parses `json_col` into."""
    return f"__parsed_{json_col}"


def _build(schema, table_schema, json_col, config, extra_root):
    """Compile for a table (`table_schema`) or a JSON column (`json_col`);
    a declined compile comes back as its exception, so it is memoized too."""
    try:
        if json_col is not None:
            return compile_for_json(
                schema, F.col(json_col), config, parsed_col=F.col(parsed_col_name(json_col))
            )
        return _compile_table(schema, table_schema, config, extra_root)
    except ColumnBackendUnsupported as e:
        return e


#: compiled trees kept per process (least recently used first out)
COMPILE_MEMO_SIZE = 256


@functools.lru_cache(maxsize=COMPILE_MEMO_SIZE)
def _memo(schema_json: str, table_json: Optional[str], json_col: Optional[str],
          config_json: str, extra_json: str, registry: tuple):
    """The compile memo, keyed by JSON text.  `registry` (unused in the
    body) keys the registered keyword set, so a (re)registration misses."""
    table = T.StructType.fromJson(json.loads(table_json)) if table_json else None
    return _build(json.loads(schema_json), table, json_col, json.loads(config_json),
                  json.loads(extra_json))


def _compiled(schema, table_schema=None, json_col=None, config=None, extra_root=None) -> Compiled:
    """Memoized compile: building a check tree costs one Py4J round trip
    (~3 ms) per Column op, so a mid-sized schema spends seconds of driver
    time per compile — paid once per process this way, like the
    reference's compile-once / validate-many contract (core.clj:1484-1492).
    Columns are immutable unresolved expression trees, reusable across
    DataFrames and sessions within one JVM gateway."""
    try:
        key = (
            json.dumps(schema),
            table_schema.json() if table_schema is not None else None,
            json_col,
            json.dumps(config or {}),
            json.dumps(extra_root),
            tuple((k, id(v)) for k, v in sorted(KEYWORD_COMPILERS.items())),
        )
    except TypeError:  # not JSON-serialisable: compile without the memo
        out = _build(schema, table_schema, json_col, config, extra_root)
    else:
        out = _memo(*key)
    if isinstance(out, ColumnBackendUnsupported):
        raise ColumnBackendUnsupported(*out.args)
    return out


def compile_for_table(schema: dict, table_schema: T.StructType, config: Optional[dict] = None,
                      extra_root: Optional[dict] = None) -> Compiled:
    """Compile a schema against a whole table row (memoized).

    The row presents as the instance object: columns are its keys.  Returns
    a :class:`Compiled` whose expressions reference the table's columns
    directly — Catalyst prunes unused ones."""
    return _compiled(schema, table_schema=table_schema, config=config, extra_root=extra_root)


def compile_json_column(schema: dict, json_col: str, config: Optional[dict] = None) -> Compiled:
    """:func:`compile_for_json` over column `json_col`, reading the parse
    from :func:`parsed_col_name` (memoized, declines included)."""
    return _compiled(schema, json_col=json_col, config=config)


#: the built-in keyword bodies, written against the value view; a keyword
#: registered later compiles on typed columns only (see compile_schema)
_BUILT_IN = dict(KEYWORD_COMPILERS)
