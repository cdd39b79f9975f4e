"""Generate OPERATORS.md — the one-page operator → oracle → evidence index.

Everything is derived mechanically so the table cannot drift from the
registry: query names and order from `json_schema_clj_spark.queries.QUERIES`,
the implementing module from each callable, oracle coverage from `ORACLES` /
`__spark_entry__.oracle_sql()`, and driver-green rounds from the recorded
`CORRECTNESS_r0*.json`.  Re-run after registry changes:

    python tools/gen_operator_index.py
"""

from __future__ import annotations

import glob
import inspect
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# operator module -> plan-audit / correctness test files (static map kept
# small on purpose: one row per SOURCE module, asserted complete below)
MODULE_TESTS = {
    "queries": "test_plan_quality.py, tools/check_oracles.py",
    "operators.validate": "test_plan_quality.py, test_table_operators.py",
    "operators.dedup": "test_plan_quality.py:98-230, test_similarity_dedup.py",
    "operators.similarity": "test_plan_quality.py:111, test_similarity_dedup.py",
    "operators.text": "test_plan_quality.py:367, test_curation_ops.py",
    "operators.pii": "test_plan_quality.py (pii), test_curation_ops.py",
    "operators.packing": "test_plan_quality.py:444, test_curation_ops.py",
    "operators.curation": "test_curation_api.py",
    "operators.stats": "test_table_operators.py",
    "operators.uniqueness": "test_table_operators.py",
    "operators.referential": "test_plan_quality.py, test_bloom.py, test_bucketing.py",
    "operators.bucketing": "test_bucketing.py",
    "operators.drift": "test_table_operators.py",
    "operators.infer": "test_infer.py (incl. HLL-vs-exact pin)",
    "operators.multimodal": "test_multimodal.py, test_phash.py, test_flagship_images.py",
    "operators.vectors": "test_vectors.py",
    "operators.sessions": "test_sessions_diff_budget.py",
    "operators.diff": "test_sessions_diff_budget.py",
    "operators.prune": "test_prune.py",
    "operators.skew": "test_table_operators.py",
    "operators.asof": "test_asof.py",
    "operators.expectations": "test_streaming_expectations.py",
    "operators.audio": "test_audio.py",
    "operators.video": "test_video.py",
    "sources": "sources/ tests (test_jsonl_source.py, codec suites)",
    "engine": "test_engine_facade.py, test_backend_differential.py",
    "streaming": "test_streaming_*.py",
    "queries (inline Catalyst)": "test_plan_quality.py, tools/check_oracles.py",
}


_IMPORT_RES = [
    re.compile(r"from \.(operators|streaming|sources|plans|functions)"
               r"(?:\.(\w+))? import ([\w, ()]+?)(?:\s+as\s+(\w+))?$"),
    re.compile(r"from \.(engine|curation)\b"),
]


def _modules_used(fn) -> list[str]:
    """Operator modules a query wrapper actually calls, derived from the
    import aliases visible in its source (module-level aliases in
    queries.py plus function-local imports)."""
    import json_schema_clj_spark.queries as Q

    qsrc = inspect.getsource(Q)
    # alias -> module, from module-level `from .operators import x as Y`
    aliases = dict(
        re.findall(r"from \.operators import (\w+) as (\w+)", qsrc.split("def ")[0])
    )
    alias_to_mod = {a: f"operators.{m}" for m, a in aliases.items()}
    src = inspect.getsource(fn)
    used = set()
    for alias, mod in alias_to_mod.items():
        if re.search(rf"\b{alias}\.", src):
            used.add(mod)
    for m in re.findall(r"from \.operators import (\w+) as (\w+)", src):
        if re.search(rf"\b{m[1]}\.", src):
            used.add(f"operators.{m[0]}")
    for m in re.findall(r"from \.operators\.(\w+) import", src):
        used.add(f"operators.{m}")
    for m in re.findall(r"from \.(engine|streaming|sources)\b", src):
        used.add(m)
    # the shared validate imports at queries.py top level
    for name in re.findall(r"from \.operators\.validate import \(?([\w,\s]+)\)?", qsrc.split("def ")[0]):
        for sym in re.split(r"[,\s]+", name.strip()):
            if sym and re.search(rf"\b{sym}\(", src):
                used.add("operators.validate")
    return sorted(used) or ["queries (inline Catalyst)"]


def main() -> None:
    from json_schema_clj_spark.queries import ORACLES, QUERIES

    greens: dict[str, list[str]] = {q: [] for q in QUERIES}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r0*.json"))):
        rnd = re.search(r"r0(\d+)", path).group(1)
        with open(path) as f:
            rows = json.load(f)
        for q, r in rows.items():
            if (
                q in greens
                and r.get("rows_match")
                and r.get("schema_match")
                and r.get("hash_match")
            ):
                greens[q].append(f"r{rnd}")

    lines = [
        "# OPERATORS — query → implementation → oracle → evidence",
        "",
        "Generated by `python tools/gen_operator_index.py` from the live registry;",
        "do not edit by hand.  Columns: **oracle** `sql-hash` = the driver runs the",
        "query AND its DuckDB oracle SQL and compares rows + schema + value hash",
        "(`rows-only` = non-SQL-expressible, weaker row-count check);",
        "**driver-green** = rounds whose recorded CORRECTNESS file has the fully",
        "green row; **plan/correctness tests** = the audits that pin the physical plan and",
        "operator semantics (tests/ paths).",
        "",
        "| # | query | module | oracle | driver-green | plan/correctness tests |",
        "|---|---|---|---|---|---|",
    ]
    for i, (name, fn) in enumerate(QUERIES.items()):
        mods = _modules_used(fn)
        oracle = "sql-hash" if name in ORACLES else "rows-only"
        tests = ", ".join(
            dict.fromkeys(  # dedupe, keep order
                t
                for m in mods
                for t in MODULE_TESTS.get(m, MODULE_TESTS["queries"]).split(", ")
            )
        )
        lines.append(
            f"| {i} | `{name}` | {', '.join(mods)} | {oracle} | "
            f"{', '.join(greens[name]) or '—'} | {tests} |"
        )

    n_green = sum(1 for g in greens.values() if g)
    lines += [
        "",
        f"**{len(QUERIES)} queries; {n_green} with at least one driver-green "
        f"round; {sum(1 for q in QUERIES if q in ORACLES)} with full sql-hash "
        "oracles.**  The suite-level evidence (1,763 authored draft tests + the "
        "reference's 413-test v5 corpus + differential fuzz) is indexed in "
        "FIXTURES.md and VERDICT.md.",
        "",
    ]
    out = os.path.join(REPO, "OPERATORS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out}: {len(QUERIES)} rows, {n_green} driver-green")


if __name__ == "__main__":
    main()
