"""From-scratch Python JSON-Schema validator — the engine's second backend.

Covers the full keyword vocabulary of the reference engine
(/root/reference/src/json_schema/core.clj: the `schema-key` /
`schema-type` multimethods), drafts 3/4/6/7 plus the v5-proposal keywords
($data, constant, contains, switch, formatMaximum/Minimum,
patternRequired, patternGroups) and the custom keywords (discriminator,
exclusiveProperties, subset, deferred).

This backend exists for what Catalyst Columns cannot express: arbitrary
schemaless JSON documents, unbounded `$ref` recursion, and dynamic object
shapes.  On Spark it runs inside Arrow-batched pandas UDFs
(:mod:`.udf`) — compile once on the driver, broadcast the compiled
closure tree, evaluate per Arrow batch.

Semantic parity notes (quirks deliberately preserved — SURVEY.md §7):

* ``type: string`` rejects blank strings (core.clj:189-190).
* ``required`` treats null as missing (has-property?, core.clj:852-854).
* ``pattern`` / ``format`` regexes use *find*, not full-match
  (core.clj:1336,1361).
* 1 and 1.0 are different values (enum/const/uniqueItems); 1.0 is not an
  ``integer`` (core.clj:238-244; the suite's numeric-unification cases are
  on the reference's own skip-lists).
* ``multipleOf`` is exact-rational (is-divider?, core.clj:419-421), with
  decimal-string interpretation of float operands so 0.0075 is a multiple
  of 0.0001.

Deliberate deviations (documented, not bugs):

* Probes are HERMETIC everywhere: if-predicates, switch-ifs and disallow
  run on a scratch error list.  The reference is internally inconsistent
  — :contains resets ``:errors`` before probing (core.clj:1387) but :if
  threads the ACCUMULATED ctx (core.clj:738), so a failure from any
  earlier keyword silently flips the if to its else branch, making the
  verdict depend on Clojure's map-iteration order over the schema's
  keys.  Order-dependent verdicts are not reproducible across backends;
  the hermetic reading is used uniformly.
* ``dependencies`` emits one violation PER missing dependency at the
  parent path, where the reference emits a single aggregated
  "(:b :c) are required" at path+key (core.clj:565-586) — richer rows
  for the violation sink, same verdict.
"""

from __future__ import annotations

import json
import re
from fractions import Fraction
from typing import Any, Callable, Optional

from ..functions import formats
from ..plans.ir import COMPARATOR_WORDING, render, type_route

# ---------------------------------------------------------------------------
# run state


class Run:
    """Mutable validation state for one document — the analog of the
    reference's threaded ctx map `{:path :errors :warnings :deferreds
    :doc :config}` (core.clj:1484-1502).  `records` holds every violation
    and deferred annotation in check order, as `(path, keyword, message,
    severity)`; `deferreds` the reference-shaped deferred entries."""

    __slots__ = ("doc", "config", "records", "deferreds")

    def __init__(self, doc, config=None):
        self.doc = doc
        self.config = config or {}
        self.records: list[tuple] = []
        self.deferreds: list[dict] = []

    def child(self) -> "Run":
        return Run(self.doc, self.config)

    def failed(self) -> bool:
        """Has an error-severity record: a warning never fails a probe."""
        return any(r[3] == "error" for r in self.records)

    def views(self) -> dict:
        """The reference's `{:errors :warnings :deferreds}`: the records
        split by severity, each list in check order."""
        out = {"errors": [], "warnings": []}
        for path, _, message, severity in self.records:
            if severity != "deferred":
                out[severity + "s"].append({"path": list(path), "message": message})
        out["deferreds"] = self.deferreds
        return out


# a compiled validator: (value, path tuple, run) -> None
Validator = Callable[[Any, tuple, Run], None]


def _add_error(run: Run, keyword: str, path: tuple, message: str, route: Optional[str] = None):
    """Record one violation of `keyword`, its severity routed by the
    config key the reference's add-error uses (core.clj:42-45): `route`
    where that key is not the keyword itself."""
    routed = run.config.get(route or keyword) in ("warnings", "warning")
    run.records.append((path, keyword, message, "warning" if routed else "error"))


def _probe(vfn: Validator, value, path: tuple, run: Run) -> Run:
    """Run a child on a scratch record list (the anyOf/oneOf/not/contains
    probe trick, core.clj:781,799,758,1387)."""
    scratch = run.child()
    vfn(value, path, scratch)
    return scratch


# ---------------------------------------------------------------------------
# value predicates / equality


def is_number(v) -> bool:
    return isinstance(v, (int, float)) and not isinstance(v, bool)


def is_integer(v) -> bool:
    return isinstance(v, int) and not isinstance(v, bool)


def json_eq(a, b) -> bool:
    """Strict JSON equality: bools ≠ ints, 1 ≠ 1.0 (Clojure `=` semantics,
    json-compare core.clj:472-478 — the keyword↔string tolerance is moot in
    Python where keys are already strings)."""
    if isinstance(a, bool) or isinstance(b, bool):
        return isinstance(a, bool) and isinstance(b, bool) and a == b
    if is_number(a) and is_number(b):
        return type(a) is type(b) and a == b
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(json_eq(a[k], b[k]) for k in a)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(json_eq(x, y) for x, y in zip(a, b))
    return type(a) is type(b) and a == b


def canon(v):
    """Hashable canonical form preserving json_eq distinctions."""
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, float):
        return ("f", v)
    if isinstance(v, dict):
        return ("o", tuple(sorted((k, canon(x)) for k, x in v.items())))
    if isinstance(v, list):
        return ("a", tuple(canon(x) for x in v))
    return ("s", v) if isinstance(v, str) else ("n", v)


def _is_divider(v, d) -> bool:
    """Exact-rational multipleOf test (is-divider?, core.clj:419-421).
    Float operands are taken at their printed decimal value.

    Deliberate divergence from the reference on two untested boundaries:
    the reference regex-matches the PRINTED double quotient against
    ^\\d+(\\.0)?$, so (a) float-noise quotients — Java prints 0.3/0.1 as
    2.9999999999999996 — and (b) integer-valued quotients large enough for
    Java's E-notation (>= 1e7, printed "7.5E10") are both INVALID there.
    Exact-rational at the printed decimal value calls both VALID.  No
    reference test pins either class (the official draft suites pass under
    both definitions); the exact form is kept because the reference's
    answer is an artifact of Double.toString formatting, and bit-agreement
    across this repo's three backends (JVM SQL, Arrow Python, driver
    Python) requires a formatting-independent definition.  The
    non-negative-quotient quirk the regex DOES encode (a -6/3 quotient
    prints "-2.0" and fails the match) is mirrored via q >= 0."""
    if d == 0:
        return False
    fv = Fraction(str(v)) if isinstance(v, float) else Fraction(v)
    fd = Fraction(str(d)) if isinstance(d, float) else Fraction(d)
    q = fv / fd
    return q.denominator == 1 and q >= 0


# ---------------------------------------------------------------------------
# $data relative JSON pointers (compile-pointer, core.clj:65-91)


def decode_json_pointer(s: str) -> str:
    return s.replace("~1", "/").replace("~0", "~").replace("%25", "%")


def compile_pointer(ref: str):
    """Returns fn(run, path) -> referenced value (or key name for `N#`)."""
    is_root = ref.startswith("#")
    is_key = ref.endswith("#") and not is_root
    body = re.sub(r"(^#/|#$)", "", ref)
    segs = []
    for tok in body.split("/"):
        if tok == "":
            continue
        segs.append(int(tok) if re.fullmatch(r"\d+", tok) else decode_json_pointer(tok))

    def get_in(doc, path):
        node = doc
        for seg in path:
            if isinstance(node, dict):
                node = node.get(seg) if isinstance(seg, str) else node.get(str(seg))
            elif isinstance(node, list) and isinstance(seg, int) and 0 <= seg < len(node):
                node = node[seg]
            else:
                return None
            if node is None:
                return None
        return node

    if is_root:
        return lambda run, path: get_in(run.doc, segs)

    def rel(run, path):
        steps_back = segs[0] if segs else 0
        rest = segs[1:]
        base = path[: len(path) - steps_back] if steps_back else path
        absolute = list(base) + rest
        if is_key:
            return absolute[-1] if absolute else None
        return get_in(run.doc, absolute)

    return rel


def _data_ref(x):
    """Detect `{"$data": ptr}` (core.clj:126-127) → pointer fn or None."""
    if isinstance(x, dict) and "$data" in x:
        return compile_pointer(x["$data"])
    return None


# ---------------------------------------------------------------------------
# regex tables: functions/formats.py's, compiled as Python patterns.  The
# one override is the `oid` type: Java parses the reference's `^[[0-9]+\.]*$`
# (core.clj:270) as a NESTED character class = {0-9, +, .} repeated; Python
# has no nested classes, so it gets the Java-equivalent expansion (rlike on
# the Catalyst tiers uses the original literally — the reference's dialect).

TYPE_REGEX = {t: re.compile(r"^[0-9+.]*$" if t == "oid" else rx) for t, rx in formats.TYPE_REGEX.items()}
FORMAT_REGEX = {f: re.compile(rx) for f, rx in formats.FORMAT_REGEX.items()}


def _jvm_regex_to_python(x: str) -> str:
    """Rewrite Java named-group syntax to Python's, context-sensitively:
    a tiny scanner tracks escape pairs and character classes so that an
    escaped backslash followed by literal `k<a>` is NOT rewritten (it is
    valid Java meaning backslash-then-text) and `\\k` inside a character
    class is left alone (illegal in Java; the untouched `\\k` is equally
    illegal to Python's re, so the verdict matches).  Blind re.sub over
    the whole pattern got both of those wrong."""
    out = []
    i, n = 0, len(x)
    in_class = False
    while i < n:
        c = x[i]
        if c == "\\" and i + 1 < n:
            if not in_class:
                m = re.match(r"\\k<([A-Za-z][A-Za-z0-9]*)>", x[i:])
                if m:
                    out.append(f"(?P={m.group(1)})")
                    i += m.end()
                    continue
            out.append(x[i : i + 2])
            i += 2
            continue
        if in_class:
            if c == "]":
                in_class = False
            out.append(c)
            i += 1
            continue
        if c == "[":
            in_class = True
            out.append(c)
            i += 1
            continue
        if c == "(":
            m = re.match(r"\(\?<([A-Za-z][A-Za-z0-9]*)>", x[i:])
            if m:  # named group; (?<= / (?<! lookbehinds don't match [A-Za-z]...>
                out.append(f"(?P<{m.group(1)}>")
                i += m.end()
                continue
        out.append(c)
        i += 1
    return "".join(out)


def _valid_regex(x):
    """Validity in the JVM dialect the reference compiles with
    (core.clj format-fns → re-pattern → java.util.regex).  Python's `re`
    (3.11+: lookaround, possessive quantifiers, atomic groups all agree)
    differs only in named-group spelling — Java `(?<name>…)` / `\\k<name>`
    vs Python `(?P<name>…)` / `(?P=name)` — translated context-sensitively
    by :func:`_jvm_regex_to_python` before compiling."""
    try:
        re.compile(_jvm_regex_to_python(x))
        return None
    except re.error as e:
        return str(e)


def _schema_re(pat: str):
    """Compile a SCHEMA-supplied pattern in the JVM dialect the reference
    uses (re-pattern -> java.util.regex): Java named-group spelling is
    translated first (:func:`_jvm_regex_to_python`); constructs Python
    cannot express (\\p{Alpha}, class intersection) still raise at
    compile, matching nothing we can silently fake."""
    return re.compile(_jvm_regex_to_python(pat))


def _valid_pointer(x):
    if not isinstance(x, str):
        return "json pointer should be string"
    if x == "":
        return None
    if not x.startswith("/"):
        return "json-pointer should start with /"
    # the reference's reduce (core.clj:1271-1276) has no else branch, so a
    # GOOD token resets the accumulator to nil — only a trailing run of
    # bad-~ tokens survives ("/~2/good" is valid there, "/good/~2" is not)
    acc = None
    for tok in x.split("/")[1:]:
        if "~" in re.sub(r"~[01]", "", tok):
            acc = ((acc + "; ") if acc else "") + f" ~ should be escaped [{tok}]"
        else:
            acc = None
    return acc


def _valid_uri(x):
    if (
        x.startswith("/")
        or x.startswith("\\")
        or ":" not in x
        or " " in x
        or re.match(r"^http(s)?://\d+:", x)
    ):
        return x
    return None


def _valid_uri_reference(x):
    if x.startswith("\\") or "\\" in x or " " in x:
        return x
    return None


def _valid_uri_template(x):
    if re.search(r"\{[^}]+$", x):
        return x
    return None


# Java DateTimeFormatter/ISO_DATE_TIME (core.clj:1303): the TIME part is
# REQUIRED ('T' HH:mm minimum, seconds/fraction optional), 'T'/'Z' are
# case-sensitive, second 60 is rejected, offsets are bounded ±18:00 with
# optional seconds and an optional bracketed zone id
_DT_RE = re.compile(
    r"^(?P<y>-?\d{4})-(?P<m>0[1-9]|1[0-2])-(?P<d>0[1-9]|[12]\d|3[01])"
    r"T([01]\d|2[0-3]):[0-5]\d(:[0-5]\d(\.\d{1,9})?)?"
    r"(Z|[+-](0\d|1[0-8]):[0-5]\d(:[0-5]\d)?(\[[^\]]+\])?)?$"
)


def _valid_date_time(x):
    """ISO_DATE_TIME acceptance (core.clj:1301-1306) — structural check plus
    real calendar-day validation (the smart resolver rejects Feb 30)."""
    m = _DT_RE.match(x)
    if not m:
        return "could not parse date-time"
    try:
        import datetime as _dt

        year = int(m.group("y"))
        if year > 0:  # proleptic negative years: structural check only
            _dt.date(year, int(m.group("m")), int(m.group("d")))
        return None
    except ValueError as e:
        return str(e)


FORMAT_FNS = {
    "regex": _valid_regex,
    "uri": _valid_uri,
    "uri-reference": _valid_uri_reference,
    "uri-template": _valid_uri_template,
    "iri": _valid_uri,
    "iri-reference": _valid_uri_reference,
    "date-time": _valid_date_time,
    "json-pointer": _valid_pointer,
}


# ---------------------------------------------------------------------------
# keyword registry (the open extension surface, like the reference's
# schema-key multimethod, core.clj:134)

KEYWORDS: dict[str, Callable] = {}


def keyword(name: str):
    def deco(fn):
        KEYWORDS[name] = fn
        return fn

    return deco


# ---------------------------------------------------------------------------
# type validators (schema-type, core.clj:183-348)


def _type_check(tname, cc: "CompileCtx"):
    if isinstance(tname, (dict, bool)):
        sub = _compile(tname, cc.push("type"), cc)
        return lambda v, path, run: "type mismatch" if _probe(sub, v, path, run).failed() else True

    t = str(tname)

    if t == "string":
        def chk(v, path, run):
            if not isinstance(v, str):
                return "expected type of string"
            if v.strip() == "":
                return "expected not empty string"
            return True
    elif t == "boolean":
        def chk(v, path, run):
            return True if isinstance(v, bool) else "expected boolean"
    elif t == "number":
        def chk(v, path, run):
            return True if is_number(v) else "expected number"
    elif t == "integer":
        def chk(v, path, run):
            return True if is_integer(v) else f"expected integer, got {v}"
    elif t == "object":
        def chk(v, path, run):
            return True if isinstance(v, dict) else "expected object"
    elif t == "array":
        def chk(v, path, run):
            return True if isinstance(v, list) else "expected array"
    elif t in ("null", "nil"):
        def chk(v, path, run):
            return True if v is None else "expected null"
    elif t == "any":
        def chk(v, path, run):
            return True
    elif t in TYPE_REGEX:
        rx = TYPE_REGEX[t]
        kind = t

        def chk(v, path, run):
            if not isinstance(v, str):
                return f"{kind} should be encoded as string"
            if kind == "uri" and v.strip() == "":
                return "expected not empty string"
            if not rx.fullmatch(v):
                return f"wrong {kind} format"
            return True
    else:
        def chk(v, path, run):
            return f"Broken schema: unknown type {tname}"

    return chk


@keyword("type")
def _k_type(value, schema, cc: "CompileCtx"):
    members = value if isinstance(value, list) else [value]
    checks = [_type_check(m, cc) for m in members]
    route = type_route(value)
    union = f"expected one of types {', '.join(str(m) for m in members)}" if isinstance(value, list) else None

    def vfn(v, path, run):
        fails = []
        for chk in checks:
            r = chk(v, path, run)
            if r is True:
                return
            fails.append(r)
        _add_error(run, "type", path, union or fails[0], route=route)

    return vfn


# ---------------------------------------------------------------------------
# enum / const


@keyword("enum")
def _k_enum(value, schema, cc):
    ptr = _data_ref(value)
    if ptr is not None:
        def vfn(v, path, run):
            ev = ptr(run, path)
            if ev is None:
                return
            if not isinstance(ev, list):
                _add_error(run, "enum", path, f"could not enum by {ev}")
            elif not any(json_eq(e, v) for e in ev):
                _add_error(run, "enum", path, "expected one of " + ", ".join(str(e) for e in ev))

        return vfn

    def vfn(v, path, run):
        if not any(json_eq(e, v) for e in value):
            _add_error(run, "enum", path, "expected one of " + ", ".join(str(e) for e in value))

    return vfn


def _const_impl(kw):
    """Both spellings route as `constant`, the reference's add-error key."""
    def compile_kw(value, schema, cc):
        ptr = _data_ref(value)
        if ptr is not None:
            def vfn(v, path, run):
                cv = ptr(run, path)
                if not json_eq(cv, v):
                    _add_error(run, kw, path, f"expected {cv}, but {v}", route="constant")

            return vfn

        def vfn(v, path, run):
            if not json_eq(value, v):
                _add_error(run, kw, path, f"expected {value}, but {v}", route="constant")

        return vfn

    return compile_kw


KEYWORDS["const"] = _const_impl("const")
KEYWORDS["constant"] = _const_impl("constant")


# ---------------------------------------------------------------------------
# comparator generator (compile-comparator, core.clj:93-124)


def make_comparator(
    name: str,
    applicable_value,
    coerce_value,
    applicable_bound,
    bound,
    exclusive=None,
    direction: int = 1,
    coerce_bound=None,
):
    noun, op = COMPARATOR_WORDING[name]
    bound_ptr = _data_ref(bound) if isinstance(bound, dict) else None
    excl_ptr = _data_ref(exclusive) if isinstance(exclusive, dict) else None

    def vfn(v, path, run):
        b = bound_ptr(run, path) if bound_ptr else bound
        if b is not None and coerce_bound:
            b = coerce_bound(b)
        ex = excl_ptr(run, path) if excl_ptr else exclusive
        if b is None:
            return
        if not applicable_bound(b):
            _add_error(run, name, path, f" could not compare with {render(b)}")
            return
        if ex is not None and not isinstance(ex, bool):
            _add_error(run, name, path, f"exclusive flag should be boolean, got {render(ex)}")
            return
        if not applicable_value(v):
            return
        cv = coerce_value(v)
        # direction=1: upper bound (v <= b); direction=-1: lower (v >= b)
        within = b > cv if direction == 1 else b < cv
        if not (within or (ex is not True and b == cv)):
            _add_error(run, name, path, f"expected{noun} {render(cv)}{op}{render(b)}")

    return vfn


def _cmp_keyword(name, applicable_value, coerce_value, applicable_bound,
                 direction, exclusive_key=None, coerce_fmt=False):
    def compile_kw(value, schema, cc):
        exclusive = schema.get(exclusive_key) if exclusive_key else None
        coerce_bound = None
        coerce = coerce_value
        if coerce_fmt:
            fmt = schema.get("format")
            if fmt == "unknown":
                return None
            coerce = _format_coerce(fmt)
            coerce_bound = coerce
        return make_comparator(
            name, applicable_value, coerce, applicable_bound, value,
            exclusive=exclusive, direction=direction, coerce_bound=coerce_bound,
        )

    return compile_kw


def _format_coerce(fmt):
    """compile-format-coerce (core.clj:1093-1109): times get their zone
    suffix stripped before comparison."""
    if fmt == "time":
        return lambda v: re.sub(r"(Z|[+-]\d+:\d+)$", "", v) if isinstance(v, str) else v
    return lambda v: v


def _strlen(v):
    return len(v)  # Python len() counts codepoints — parity with
    # string-utf8-length (core.clj:1060-1062)


KEYWORDS["maximum"] = _cmp_keyword("maximum", is_number, lambda v: v, is_number, 1, "exclusiveMaximum")
KEYWORDS["minimum"] = _cmp_keyword("minimum", is_number, lambda v: v, is_number, -1, "exclusiveMinimum")
KEYWORDS["maxLength"] = _cmp_keyword("maxLength", lambda v: isinstance(v, str), _strlen, is_number, 1)
KEYWORDS["minLength"] = _cmp_keyword("minLength", lambda v: isinstance(v, str), _strlen, is_number, -1)
KEYWORDS["maxItems"] = _cmp_keyword("maxItems", lambda v: isinstance(v, list), len, is_number, 1)
KEYWORDS["minItems"] = _cmp_keyword("minItems", lambda v: isinstance(v, list), len, is_number, -1)
KEYWORDS["maxProperties"] = _cmp_keyword("maxProperties", lambda v: isinstance(v, dict), len, is_number, 1)
KEYWORDS["minProperties"] = _cmp_keyword("minProperties", lambda v: isinstance(v, dict), len, is_number, -1)
KEYWORDS["formatMaximum"] = _cmp_keyword(
    "formatMaximum", lambda v: isinstance(v, str), lambda v: v, lambda b: isinstance(b, str),
    1, "exclusiveFormatMaximum", coerce_fmt=True
)
KEYWORDS["formatMinimum"] = _cmp_keyword(
    "formatMinimum", lambda v: isinstance(v, str), lambda v: v, lambda b: isinstance(b, str),
    -1, "exclusiveFormatMinimum", coerce_fmt=True
)


def _exclusive_standalone(name, direction):
    """Draft-6 numeric exclusiveMinimum/Maximum; absorbed (nil) when the
    boolean draft-4 form rides alongside minimum/maximum
    (core.clj:1005-1020,1040-1055)."""

    def compile_kw(value, schema, cc):
        absorbed_by = "minimum" if name == "exclusiveMinimum" else "maximum"
        if absorbed_by in schema:
            return None
        if isinstance(value, bool):
            # bare draft-4 flag, no absorbing bound: the reference compiles
            # a comparator whose BOUND is the boolean, which fails
            # bound-applicability on every value (core.clj:1006-1023,113-114)
            def vfn(v, path, run):
                _add_error(run, name, path, f" could not compare with {render(value)}")

            return vfn
        return make_comparator(
            name, is_number, lambda v: v, is_number, value, exclusive=True, direction=direction,
        )

    return compile_kw


KEYWORDS["exclusiveMinimum"] = _exclusive_standalone("exclusiveMinimum", -1)
KEYWORDS["exclusiveMaximum"] = _exclusive_standalone("exclusiveMaximum", 1)


def _multiple_impl(kw, verb):
    def compile_kw(value, schema, cc):
        ptr = _data_ref(value)

        def vfn(v, path, run):
            b = ptr(run, path) if ptr else value
            if ptr and b is None:
                return
            if ptr and not is_number(b):
                _add_error(run, kw, path, f"could not find {verb} {v} and {b}")
                return
            if is_number(v) and not (v == 0 or (is_number(b) and _is_divider(v, b))):
                _add_error(run, kw, path, f"expected {v} is {verb} {b}")

        if not ptr and not is_number(value):
            return None
        return vfn

    return compile_kw


KEYWORDS["multipleOf"] = _multiple_impl("multipleOf", "multiple of")
KEYWORDS["divisibleBy"] = _multiple_impl("divisibleBy", "divisible by")


# ---------------------------------------------------------------------------
# pattern / format


@keyword("pattern")
def _k_pattern(value, schema, cc):
    ptr = _data_ref(value)
    if ptr is not None:
        def vfn(v, path, run):
            pat = ptr(run, path)
            if pat is None:
                return
            if not isinstance(pat, str):
                # "could not interpret as pattern" (core.clj:1371-1372)
                _add_error(run, "pattern", path, f"could not interpret as pattern {pat}")
                return
            if isinstance(v, str) and not _schema_re(pat).search(v):
                _add_error(run, "pattern", path, f"expected '{v}' matches pattern '{pat}'")

        return vfn
    rx = _schema_re(value)

    def vfn(v, path, run):
        # find-semantics; non-strings pass (core.clj:1361-1366)
        if isinstance(v, str) and not rx.search(v):
            _add_error(run, "pattern", path, f"expected {v} matches {value}")

    return vfn


@keyword("format")
def _k_format(value, schema, cc):
    ptr = _data_ref(value)

    def check_named(fmt, v, path, run):
        fn = FORMAT_FNS.get(fmt)
        if fn is not None:
            if v is not None and isinstance(v, str):
                err = fn(v)
                if err is not None:
                    _add_error(run, "format", path, f"expected format {fmt}, but [{err}]")
            return
        rx = FORMAT_REGEX.get(fmt)
        if rx is None:
            _add_error(run, "format", path, f"Unknown format {fmt}")
            return
        if isinstance(v, str) and not rx.search(v):
            _add_error(run, "format", path, f"expected format {fmt}")

    if ptr is not None:
        def vfn(v, path, run):
            fmt = ptr(run, path)
            if fmt is None:
                return
            if not isinstance(fmt, str):
                _add_error(run, "format", path, f"no format for {fmt}")
                return
            # $data-resolved format: regex table first, fns for named
            if fmt in FORMAT_FNS:
                err = FORMAT_FNS[fmt](v)
                if err is not None:
                    _add_error(run, "format", path, f"expected format {fmt}, but [{err}]")
            elif fmt in FORMAT_REGEX:
                if isinstance(v, str) and not FORMAT_REGEX[fmt].search(v):
                    _add_error(run, "format", path, f"expected format {fmt}")
            else:
                _add_error(run, "format", path, f"no format for {fmt}")

        return vfn

    fmt = str(value)
    return lambda v, path, run: check_named(fmt, v, path, run)


# ---------------------------------------------------------------------------
# object keywords


def _has_property(v: dict, k: str) -> bool:
    # nil counts as missing (has-property?, core.clj:852-854)
    return k in v and v[k] is not None


@keyword("properties")
def _k_properties(value, schema, cc):
    if not isinstance(value, dict):
        return None
    subs = {k: _compile(sub, cc.push("properties", k), cc) for k, sub in value.items()}
    # draft-3 {required: true} hoisting (core.clj:375-380)
    requireds = [k for k, sub in value.items() if isinstance(sub, dict) and sub.get("required") is True]

    def vfn(v, path, run):
        if requireds and isinstance(v, dict):
            for k in requireds:
                if not _has_property(v, k):
                    _add_error(run, "required", path, f"Property {k} is required")
        if not isinstance(v, dict):
            return
        for k, sub in subs.items():
            vv = v.get(k)
            if vv is not None:
                sub(vv, path + (k,), run)

    return vfn


@keyword("required")
def _k_required(value, schema, cc):
    if isinstance(value, bool):
        return None  # draft-3 form handled by properties hoisting
    ptr = _data_ref(value)
    if ptr is not None:
        def vfn(v, path, run):
            props = ptr(run, path)
            if props is None:
                return
            if not isinstance(props, list):
                _add_error(run, "required", path, f"expected array of strings, but {props}")
                return
            if isinstance(v, dict):
                for k in props:
                    if not _has_property(v, k):
                        _add_error(run, "required", path, f"Property {k} is required")

        return vfn

    def vfn(v, path, run):
        if isinstance(v, dict):
            for k in value:
                if not _has_property(v, k):
                    _add_error(run, "required", path, f"Property {k} is required")

    return vfn


@keyword("patternRequired")
def _k_pattern_required(value, schema, cc):
    pats = [_schema_re(p) for p in value]

    def vfn(v, path, run):
        if not isinstance(v, dict):
            return
        unmatched = [p.pattern for p in pats if not any(p.search(k) for k in v)]
        if unmatched:
            _add_error(run, "patternRequired", path, f"no properites, which matches {unmatched}")

    return vfn


@keyword("patternProperties")
def _k_pattern_properties(value, schema, cc):
    pairs = [(_schema_re(p), _compile(sub, cc.push("patternProperties", p), cc)) for p, sub in value.items()]

    def vfn(v, path, run):
        if not isinstance(v, dict):
            return
        for k, vv in v.items():
            for rx, sub in pairs:
                if rx.search(k):
                    sub(vv, path + (k,), run)

    return vfn


@keyword("patternGroups")
def _k_pattern_groups(value, schema, cc):
    groups = [
        (_schema_re(p), _compile(g.get("schema", True), cc.push("patternGroups"), cc),
         g.get("minimum"), g.get("maximum"))
        for p, g in value.items()
    ]

    def vfn(v, path, run):
        if not isinstance(v, dict):
            return
        for rx, sub, mn, mx in groups:
            count = 0
            for k, vv in v.items():
                if rx.search(k):
                    count += 1
                    sub(vv, path + (k,), run)
            if mn is None and mx is None:
                continue
            if mn is not None and count < mn:
                _add_error(run, "patternGroups", path,
                           f"patternGroup expects number of matched props {count} > {mn}")
            elif mx is not None and count > mx:
                _add_error(run, "patternGroups", path,
                           f"patternGroup expects number of matched props {count} < {mx}")

    return vfn


@keyword("additionalProperties")
def _k_additional_properties(value, schema, cc):
    props_keys = set((schema.get("properties") or {}).keys())
    pat_regexes = [_schema_re(p) for p in list(schema.get("patternProperties") or {})
                   + list(schema.get("patternGroups") or {})]

    def is_pat(k):
        return any(rx.search(k) for rx in pat_regexes)

    if value is False:
        def vfn(v, path, run):
            if not isinstance(v, dict):
                return
            for k in v:
                if k not in props_keys and not is_pat(k):
                    _add_error(run, "additionalProperties", path + (k,), "extra property")

        return vfn
    if isinstance(value, dict) or value is True:
        sub = _compile(value, cc.push("additionalProperties"), cc)

        def vfn(v, path, run):
            if not isinstance(v, dict):
                return
            for k, vv in v.items():
                if k not in props_keys and not is_pat(k):
                    sub(vv, path + (k,), run)

        return vfn
    return None


@keyword("propertyNames")
def _k_property_names(value, schema, cc):
    sub = _compile(value, cc, cc)  # parent path: core.clj:1396 registry quirk

    def vfn(v, path, run):
        if not isinstance(v, dict):
            return
        for k in v:
            scratch = _probe(sub, k, path, run)
            if scratch.failed():
                msgs = "; ".join(m for _, _, m, sev in scratch.records if sev == "error")
                _add_error(run, "propertyNames", path, f"Invalid property name - {k}: {msgs}")

    return vfn


@keyword("dependencies")
def _k_dependencies(value, schema, cc):
    compiled = {}
    for k, dep in value.items():
        if isinstance(dep, str):
            compiled[k] = ("keys", [dep])
        elif isinstance(dep, list):
            compiled[k] = ("keys", dep)
        else:
            compiled[k] = ("schema", _compile(dep, cc.push("dependencies", k), cc))

    def vfn(v, path, run):
        if not isinstance(v, dict):
            return
        for k, (kind, dep) in compiled.items():
            if k not in v:
                continue
            if kind == "keys":
                for d in dep:
                    if d not in v:
                        _add_error(run, "dependencies", path, f"Property {d} is required")
            else:
                dep(v, path, run)

    return vfn


@keyword("exclusiveProperties")
def _k_exclusive_properties(value, schema, cc):
    def vfn(v, path, run):
        if not isinstance(v, dict):
            return
        for group in value:
            props = group.get("properties", [])
            required = group.get("required", False)
            present = [p for p in props if p in v]
            n = len(present)
            names = ", ".join(props)
            if not required and n <= 1:
                continue
            if required and n == 1:
                continue
            if required and n == 0:
                _add_error(run, "exclusiveProperties", path, f"One of properties {names} is required")
            elif n > 1:
                _add_error(run, "exclusiveProperties", path, f"Properties {names} are mutually exclusive")

    return vfn


@keyword("discriminator")
def _k_discriminator(value, schema, cc):
    reg = cc.registry

    def vfn(v, path, run):
        if not isinstance(v, dict):
            return
        tag = v.get(value)
        if tag is None:
            return
        validator = reg.get(f"#/definitions/{tag}")
        if validator is None:
            _add_error(run, "discriminator", path, f"Could not resolve #/definitions/{tag}")
        else:
            validator(v, path, run)

    return vfn


# ---------------------------------------------------------------------------
# array keywords


@keyword("items")
def _k_items(value, schema, cc):
    ai = schema.get("additionalItems")
    if isinstance(value, (dict, bool)):
        sub = _compile(value, cc.push("items"), cc)

        def vfn(v, path, run):
            if not isinstance(v, list):
                return
            for i, vv in enumerate(v):
                sub(vv, path + (i,), run)

        return vfn
    if isinstance(value, list):
        subs = [_compile(x, cc.push("items", i), cc) for i, x in enumerate(value)]
        ai_sub = _compile(ai, cc.push("additionalItems"), cc) if isinstance(ai, dict) else None

        def vfn(v, path, run):
            if not isinstance(v, list):
                _add_error(run, "items", path, "expected array")
                return
            if ai is True and v:
                # reference quirk, core.clj:1462: the `(= true ai)` cond
                # branch returns ctx BEFORE any positional validator runs,
                # so additionalItems: true disables tuple validation for
                # every non-empty array
                return
            for i, vv in enumerate(v):
                if i < len(subs):
                    subs[i](vv, path + (i,), run)
                elif ai is False:
                    _add_error(run, "items", path + (i,), "additional items not allowed")
                elif ai_sub is not None:
                    ai_sub(vv, path + (i,), run)

        return vfn
    return None


@keyword("uniqueItems")
def _k_unique_items(value, schema, cc):
    ptr = _data_ref(value)

    def check(v, path, run):
        if isinstance(v, list) and len(v) != len({canon(x) for x in v}):
            _add_error(run, "uniqueItems", path, "expected unique items")

    if ptr is not None:
        def vfn(v, path, run):
            flag = ptr(run, path)
            if flag is None:
                return
            if not isinstance(flag, bool):
                _add_error(run, "uniqueItems", path, f"uniq flag ref should be boolean, but {flag}")
                return
            if flag:
                check(v, path, run)

        return vfn
    if value is True:
        return check
    return None


@keyword("contains")
def _k_contains(value, schema, cc):
    sub = _compile(value, cc, cc)  # parent path: core.clj:1383 registry quirk

    def vfn(v, path, run):
        if isinstance(v, list) and not any(
            not _probe(sub, vv, path, run).failed() for vv in v
        ):
            _add_error(run, "contains", path, f"expected contains {value}")

    return vfn


@keyword("subset")
def _k_subset(value, schema, cc):
    ptr = _data_ref(value)

    def vfn(v, path, run):
        arr = ptr(run, path) if ptr else value
        if not isinstance(v, list) or not isinstance(arr, list):
            return
        if not {canon(x) for x in v} <= {canon(x) for x in arr}:
            _add_error(run, "subset", path, f"{v} is not a subset of {arr}")

    return vfn


# ---------------------------------------------------------------------------
# combinators


@keyword("allOf")
def _k_all_of(value, schema, cc):
    subs = [_compile(o, cc.push("allOf"), cc) for o in value]

    def vfn(v, path, run):
        for sub in subs:
            sub(v, path, run)

    return vfn


@keyword("extends")
def _k_extends(value, schema, cc):
    opts = value if isinstance(value, list) else [value]
    subs = [_compile(o, cc.push("extends"), cc) for o in opts]

    def vfn(v, path, run):
        for sub in subs:
            sub(v, path, run)

    return vfn


@keyword("anyOf")
def _k_any_of(value, schema, cc):
    subs = [_compile(o, cc.push("anyOf"), cc) for o in value]

    def vfn(v, path, run):
        if not any(not _probe(sub, v, path, run).failed() for sub in subs):
            _add_error(run, "anyOf", path, "Non alternatives are valid")

    return vfn


@keyword("oneOf")
def _k_one_of(value, schema, cc):
    subs = [_compile(o, cc.push("oneOf"), cc) for o in value]

    def vfn(v, path, run):
        cnt = 0
        winner = None
        for sub in subs:
            res = _probe(sub, v, path, run)
            if not res.failed():
                if cnt > 0:
                    _add_error(run, "oneOf", path, f"expected one of {value}, but more then one are valid")
                    return
                cnt, winner = 1, res
        if cnt == 1:
            # winner's deferreds merge back (core.clj:797)
            run.records.extend(r for r in winner.records if r[3] == "deferred")
            run.deferreds.extend(winner.deferreds)
        else:
            _add_error(run, "oneOf", path, f"expected one of {value}, but no one is valid")

    return vfn


@keyword("not")
def _k_not(value, schema, cc):
    sub = _compile(value, cc.push("not"), cc)

    def vfn(v, path, run):
        if not _probe(sub, v, path, run).failed():
            _add_error(run, "not", path, f"Expected not {value}")

    return vfn


@keyword("disallow")
def _k_disallow(value, schema, cc):
    opts = value if isinstance(value, list) else [value]
    subs = [_compile({"type": o} if isinstance(o, str) else o, cc.push("disallow"), cc) for o in opts]

    def vfn(v, path, run):
        if any(not _probe(sub, v, path, run).failed() for sub in subs):
            _add_error(run, "disallow", path, f"Disallowed by {json.dumps(value)}")

    return vfn


@keyword("if")
def _k_if(value, schema, cc):
    # (or th true) quirk, core.clj:735-736: Clojure `or` skips falsy
    # values, so then/else of FALSE (or absent) is silently coerced to
    # true (a no-op branch), never an always-fail schema.  Only
    # false/nil are falsy in Clojure — 0 and {} stay as written.
    def _coerce(x):
        return True if x is None or x is False else x

    # parent-path compiles (core.clj:734-736 uses bare `path`): the
    # if-predicate registers FIRST at the parent's pointer and first-
    # registration-wins, so a $ref to this node resolves to the PREDICATE
    pred = _compile(value, cc, cc)
    th = _compile(_coerce(schema.get("then")), cc, cc)
    el = _compile(_coerce(schema.get("else")), cc, cc)

    def vfn(v, path, run):
        if not _probe(pred, v, path, run).failed():
            th(v, path, run)
        else:
            el(v, path, run)

    return vfn


@keyword("switch")
def _k_switch(value, schema, cc):
    clauses = []
    for cl in value:
        cif = _compile(cl["if"], cc, cc) if "if" in cl else None  # parent path: core.clj:679
        cthen = cl.get("then")
        cthen_v = _compile(cthen, cc, cc) if isinstance(cthen, dict) else None  # core.clj:681
        clauses.append((cl, cif, cthen_v))

    def vfn(v, path, run):
        for cl, cif, cthen_v in clauses:
            if cif is not None:
                if _probe(cif, v, path, run).failed():
                    continue
                th = cl.get("then")
                if th is False:
                    _add_error(run, "switch", path, f"expected not matches {cl.get('if')}")
                elif isinstance(th, dict):
                    cthen_v(v, path, run)
                if not cl.get("continue"):
                    return
            elif "then" in cl:
                th = cl["then"]
                if th is False:
                    _add_error(run, "switch", path, "switch failed - nothing matched")
                elif isinstance(th, dict):
                    cthen_v(v, path, run)
                return

    return vfn


# ---------------------------------------------------------------------------
# refs


def _mk_ref_with_ids(r: str, ids: list[str]) -> str:
    """Resolve a relative $ref against the $id scope chain (mk-ref-with-ids,
    core.clj:956-970)."""
    if r.startswith("#"):
        return r
    pth: list[str] = []
    its = list(reversed(ids))
    while its:
        it = its[0]
        its = its[1:]
        # Clojure's str/split drops trailing empty segments ("http://x/" →
        # ["http:" "" "x"]); Python keeps them, which would leave doubled
        # slashes in the resolved URL — strip to match the reference.
        sub = it.split("/")
        while sub and sub[-1] == "":
            sub.pop()
        new_pth = (sub if it.endswith("/") else sub[:-1]) + pth
        if not its or it.startswith("http"):
            return "/".join(new_pth) + "/" + r
        pth = new_pth
    return r


@keyword("$ref")
def _k_ref(value, schema, cc):
    ids = cc.ids
    r = _mk_ref_with_ids(value, ids) if ids else value
    r = decode_json_pointer(r)
    reg = cc.registry
    loader = cc.loader

    if r.startswith("http"):
        def vfn(v, path, run):
            validator = _external(r, reg, loader, cc)
            if validator is None:
                _add_error(run, "$ref", path, f"Could not resolve $ref = {r}")
            else:
                validator(v, path, run)

        return vfn

    def vfn(v, path, run):
        validator = reg.get(r)
        if validator is None:
            _add_error(run, "$ref", path, f"Could not resolve $ref = {r}")
        else:
            validator(v, path, run)

    return vfn


def _split_fragment(uri: str):
    if "#" in uri:
        endpoint, frag = uri.split("#", 1)
        return endpoint, "#" + frag
    return uri, "#"


def http_loader(endpoint: str):
    """Fetch-and-parse loader for remote $refs over real HTTP — the analog
    of the reference's slurp fetch (core.clj:941-954; integration-tested
    against a localhost server in test/json_schema/utils.clj:13-26).  Pass
    as ``loader=http_loader``; fetched registries are cached per endpoint
    by :func:`_external`, so each document is fetched once per validator."""
    import urllib.request

    with urllib.request.urlopen(endpoint, timeout=10) as resp:
        return json.loads(resp.read().decode("utf-8"))


def _external(uri: str, reg: dict, loader, cc):
    """External $ref: fetch via the supplied loader (the sandboxed analog of
    the reference's slurp, core.clj:941-954), compile its registry, cache."""
    endpoint, frag = _split_fragment(uri)
    cached = reg.get(("external", endpoint))
    if cached is None:
        if loader is None:
            return None
        try:
            doc = loader(endpoint)
        except Exception:
            return None
        if doc is None:
            return None
        cached = compile_registry(doc, loader=loader)
        reg[("external", endpoint)] = cached
    return cached.get(frag)


@keyword("deferred")
def _k_deferred(value, schema, cc):
    # the record the Catalyst tiers emit, then the reference-shaped entry
    text = json.dumps(value)

    def vfn(v, path, run):
        run.records.append((path, "deferred", text, "deferred"))
        run.deferreds.append({"path": list(path), "value": v, "deferred": value})

    return vfn


# no-op annotation keywords (reference compiles these to nil)
for _noop in ("title", "description", "$schema", "default", "then", "else",
              "additionalItems", "exclusiveFormatMaximum", "exclusiveFormatMinimum"):
    KEYWORDS.setdefault(_noop, lambda value, schema, cc: None)


@keyword("definitions")
def _k_definitions(value, schema, cc):
    if isinstance(value, dict):
        for k, sch in value.items():
            if isinstance(sch, (dict, bool)):
                _compile(sch, cc.push("definitions", k), cc)
    return None


# ---------------------------------------------------------------------------
# compiler core


class CompileCtx:
    """Compile-time state: path, $ref registry, $id scope chain, loader."""

    __slots__ = ("path", "registry", "ids", "loader")

    def __init__(self, path=(), registry=None, ids=(), loader=None):
        self.path = tuple(path)
        self.registry = registry if registry is not None else {}
        self.ids = list(ids)
        self.loader = loader

    def push(self, *segs) -> "CompileCtx":
        c = CompileCtx(self.path + tuple(segs), self.registry, self.ids, self.loader)
        return c

    def with_ids(self, ids) -> "CompileCtx":
        return CompileCtx(self.path, self.registry, ids, self.loader)


def build_ref(path: tuple) -> str:
    if not path:
        return "#"
    return "#/" + "/".join(str(p) for p in path)


def _compile(schema, cc: CompileCtx, parent_cc: Optional[CompileCtx] = None) -> Validator:
    """compile-schema analog (core.clj:148-181): booleans → constants, maps →
    fold of per-keyword validators; every compiled node registers its pointer
    (and any http $id) in the registry for $ref resolution."""
    if schema is True:
        vfn: Validator = lambda v, path, run: None
    elif schema is False:
        def vfn(v, path, run):
            _add_error(run, "schema", path, "schema is 'false', which means it's always fails")
    elif isinstance(schema, dict):
        my_cc = cc
        sid = schema.get("id") or schema.get("$id")
        if sid:
            my_cc = cc.with_ids(cc.ids + [sid])
        validators = []
        for k, v in schema.items():
            if k in ("title", "id", "$id"):
                continue
            compiler = KEYWORDS.get(k)
            if compiler is None:
                # unknown keyword: compiled as subschema only at root, else
                # dropped (core.clj:1185-1191)
                if not cc.path and isinstance(v, dict):
                    _compile(v, my_cc.push(k), my_cc)
                continue
            # $data: the pointer substitution happens inside each keyword
            kvfn = compiler(v, schema, my_cc)
            if kvfn is not None:
                validators.append(kvfn)

        def vfn(v, path, run):
            for kv in validators:
                kv(v, path, run)
    else:
        def vfn(v, path, run):
            _add_error(run, "schema", path, f"Invalid schema {schema}")

    ref = build_ref(cc.path)
    cc.registry.setdefault(ref, vfn)
    if isinstance(schema, dict):
        sid = schema.get("id") or schema.get("$id")
        if sid and str(sid).startswith("http"):
            cc.registry.setdefault(sid, vfn)
    return vfn


# ---------------------------------------------------------------------------
# public API (mirrors core.clj:1484-1502)


def compile_schema(schema, config: Optional[dict] = None, loader=None):
    """Compile once, validate many: returns fn(value, config=None) →
    {"errors": [...], "warnings": [...], "deferreds": [...]}, views of the
    run's records (:meth:`Run.views`); its `run(value, config=None)`
    returns the :class:`Run` itself."""
    cc = CompileCtx(registry={}, loader=loader)
    vfn = _compile(schema, cc)
    base_config = config or {}

    def run(value, run_config: Optional[dict] = None) -> Run:
        r = Run(value, {**base_config, **(run_config or {})})
        vfn(value, (), r)
        return r

    def run_validator(value, run_config: Optional[dict] = None):
        return run(value, run_config).views()

    run_validator.registry = cc.registry
    run_validator.run = run
    return run_validator


def compile_registry(schema, loader=None) -> dict:
    """Compile purely for the registry (compile-registry, core.clj:1494-1498);
    '#' maps to the root validator."""
    cc = CompileCtx(registry={}, loader=loader)
    cc.registry["#"] = None  # lock sentinel for recursive roots
    vfn = _compile(schema, cc)
    cc.registry["#"] = vfn
    return cc.registry


def validate(schema, value, config: Optional[dict] = None, loader=None) -> dict:
    """One-shot validate (core.clj:1500-1502)."""
    return compile_schema(schema, config=config, loader=loader)(value)
