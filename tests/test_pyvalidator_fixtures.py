"""Conformance of the Python backend against the reference's own golden
fixtures (v5 proposal keywords, $data, custom scenarios, meta-schema
self-validation) — pure driver-side, no Spark session needed.

Fixture provenance: /root/reference/test/v5/*.json,
/root/reference/test/v5/$data/*.json,
/root/reference/test/custom-scenarios/nested_ref.json,
and the draft-04 meta-schema, authored by hand from the published spec as
tests/fixtures/draft-04-schema.json (all test DATA, loaded read-only; the
validator implementation is from scratch).
"""

import glob
import json
import os

import pytest

from json_schema_clj_spark.sources.suite import load_cases, run_suite_python
from json_schema_clj_spark.pyvalidator.validator import validate, compile_schema

REF = "/root/reference"

# the reference's own fixtures; the authored corpus runs without them
needs_reference = pytest.mark.skipif(
    not os.path.isdir(REF), reason="reference checkout not present"
)


def _run_files(paths, skip=()):
    cases = load_cases(paths, skip=skip)
    assert cases, f"no cases in {paths}"
    results = run_suite_python(cases)
    failures = [r for r in results if not r["pass"]]
    msg = "\n".join(
        f"{r['case_id']} [{r['group_desc']} / {r['test_desc']}] expected valid={r['valid']} "
        f"errors={r['errors']}" for r in failures[:10]
    )
    assert not failures, f"{len(failures)}/{len(results)} failed:\n{msg}"


@needs_reference
def test_v5_fixtures():
    paths = sorted(glob.glob(f"{REF}/test/v5/*.json"))
    _run_files(paths)


@needs_reference
def test_v5_data_fixtures():
    paths = sorted(glob.glob(f"{REF}/test/v5/$data/*.json"))
    _run_files(paths)


@needs_reference
def test_custom_scenarios():
    _run_files([f"{REF}/test/custom-scenarios/nested_ref.json"])


def test_meta_schema_self_validation():
    # draft-04 meta-schema validates itself (core_test.clj:37-41) and
    # rejects malformed schemas
    with open(os.path.join(os.path.dirname(__file__), "fixtures", "draft-04-schema.json")) as f:
        meta = json.load(f)
    res = validate(meta, meta)
    assert res["errors"] == []
    for bad in ({"type": "text"}, {"minLength": -1}, {"required": []}, {"exclusiveMinimum": True}):
        assert validate(meta, bad)["errors"], bad


def test_blank_string_quirk():
    assert validate({"type": "string"}, "")["errors"]
    assert validate({"type": "string"}, "  ")["errors"]
    assert not validate({"type": "string"}, "x")["errors"]


def test_numeric_strictness():
    # 1.0 is not an integer; 1 != 1.0 in enum/const
    assert validate({"type": "integer"}, 1.0)["errors"]
    assert validate({"enum": [1]}, 1.0)["errors"]
    assert not validate({"enum": [1]}, 1)["errors"]
    assert validate({"const": 1}, True)["errors"]


def test_multiple_of_exact():
    assert not validate({"multipleOf": 0.0001}, 0.0075)["errors"]
    assert validate({"multipleOf": 0.0001}, 0.00751)["errors"]
    assert not validate({"multipleOf": 0.5}, 1.5)["errors"]


def test_recursive_ref():
    # recursion via #/definitions (custom_extensions_test.clj:280-334)
    schema = {
        "definitions": {
            "node": {
                "type": "object",
                "properties": {
                    "name": {"type": "string"},
                    "children": {"type": "array", "items": {"$ref": "#/definitions/node"}},
                },
                "required": ["name"],
            }
        },
        "$ref": "#/definitions/node",
    }
    ok = {"name": "a", "children": [{"name": "b", "children": [{"name": "c"}]}]}
    bad = {"name": "a", "children": [{"children": [{"name": "c"}]}]}
    assert not validate(schema, ok)["errors"]
    errs = validate(schema, bad)["errors"]
    assert errs and errs[0]["path"] == ["children", 0]


def test_error_paths_nested():
    # mixed map-key + array-index paths (errors_test.clj:40-65 model)
    schema = {
        "properties": {
            "a": {"items": {"properties": {"b": {"type": "integer"}}}},
        }
    }
    errs = validate(schema, {"a": [{"b": 1}, {"b": "x"}]})["errors"]
    assert [e["path"] for e in errs] == [["a", 1, "b"]]


def test_warnings_config():
    res = validate({"type": "integer"}, "x", config={"integer": "warnings"})
    assert res["errors"] == []
    assert len(res["warnings"]) == 1


def test_deferreds():
    schema = {"properties": {"x": {"deferred": {"kind": "late"}}}}
    res = validate(schema, {"x": 42})
    assert res["deferreds"] == [{"path": ["x"], "value": 42, "deferred": {"kind": "late"}}]


def test_oneof_deferred_merge():
    # the single winner's deferreds merge back (core.clj:797)
    schema = {
        "oneOf": [
            {"properties": {"x": {"type": "integer", "deferred": "int-branch"}}, "required": ["x"]},
            {"properties": {"y": {"type": "string"}}, "required": ["y"]},
        ]
    }
    res = validate(schema, {"x": 1})
    assert not res["errors"]
    assert [d["deferred"] for d in res["deferreds"]] == ["int-branch"]


def test_external_ref_loader():
    # sandboxed analog of the reference's localhost remotes (utils.clj:13-26)
    store = {"http://example.com/pos.json": {"minimum": 0}}
    schema = {"$ref": "http://example.com/pos.json"}
    assert not validate(schema, 5, loader=store.get)["errors"]
    assert validate(schema, -5, loader=store.get)["errors"]
    assert validate(schema, 5)["errors"]  # no loader → unresolved


def test_id_scoped_refs():
    # $id base-URI chain (core_test.clj:13-35 model)
    schema = {
        "id": "http://x.y.z/rootschema.json#",
        "definitions": {"pos": {"minimum": 0}},
        "properties": {"a": {"$ref": "#/definitions/pos"}},
    }
    assert not validate(schema, {"a": 3})["errors"]
    assert validate(schema, {"a": -3})["errors"]


def test_relative_json_pointer_table():
    """Relative-JSON-pointer unit table (jsonpointer_test.clj:9-34, per
    draft-luff-relative-json-pointer-00), incl. the `N#` key/index form."""
    from json_schema_clj_spark.pyvalidator.validator import Run, compile_pointer

    doc = {"foo": ["bar", "baz"], "highly": {"nested": {"objects": True}}}
    run = Run(doc, {})
    table = {
        ("foo", 1): [
            ("0", "baz"),
            ("1/0", "bar"),
            ("2/highly/nested/objects", True),
            ("0#", 1),
            ("1#", "foo"),
        ],
        ("highly", "nested"): [
            ("0/objects", True),
            ("1/nested/objects", True),
            ("2/foo/0", "bar"),
            ("0#", "nested"),
            ("1#", "highly"),
        ],
        ("any",): [
            ("#/foo/0", "bar"),
            ("#/foo/1", "baz"),
            ("#/highly/nested/objects", True),
            ("#/uexisting", None),
        ],
    }
    for path, cases in table.items():
        for ref, expected in cases:
            got = compile_pointer(ref)(run, path)
            assert got == expected, (path, ref, expected, got)
