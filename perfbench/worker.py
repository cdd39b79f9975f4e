"""The measured process: one workload in one fresh Spark session.

    python3 perfbench/worker.py --workload W --inputs DIR --seconds S \
        --trace 0|1 --t0 MONOTONIC --result FILE

Started by ``run.py`` after the inputs exist.  Set-up (session start,
schema compile, warm-up operations) runs first; then a closed loop with
one client runs a fixed number of operations, about ``--seconds`` of them
by the workload's nominal operation time, forcing a JVM and a Python GC
before each.  Every output is checked against the generator's expected
answers.  With ``--trace 1`` the loop pairs untraced and traced
operations, adds the layer cuts after each traced one, and reports
per-layer metrics from the spans and the event log.
"""

from __future__ import annotations

import argparse
import gc
import glob
import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import ROOT, STATE, spark_session  # noqa: E402
from spans import Tracer, read_event_log  # noqa: E402

sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402


def parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in glob.glob(f"{path}/*.parquet"))


def read_parquet(path: str, columns: list[str]) -> dict:
    import pyarrow.parquet as pq

    return pq.read_table(path, columns=columns).to_pydict()


def noop_scan(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def med(xs):
    return statistics.median(xs) if xs else float("nan")


class Workload:
    """One workload: ``op`` is the timed operation, ``check`` compares its
    output with the expected answer, ``cuts`` are the traced-only actions
    over plans cut at a layer boundary (scan only, verdict only, ...)."""

    warmup = 3
    op_s = 1.2  # nominal seconds of one warm operation on a 4-core host

    def __init__(self, spark, inputs: str, tracer: Tracer, sink: str):
        self.spark = spark
        self.inputs = inputs
        self.span = tracer.span
        self.sink = sink
        with open(os.path.join(inputs, "expected.json")) as f:
            self.expected = json.load(f)
        self.pass_s: dict[str, float] = {}

    def op_id(self, i: int) -> str:
        return f"op{i}"

    def op_rows(self, i: int) -> int:
        return self.expected["rows"]

    def scan_rows(self, i: int) -> int:
        return self.expected["rows"]

    def max_ops(self) -> int:
        return 10**9

    def timed_pass(self, name: str, fn):
        t = time.perf_counter()
        with self.span("pass." + name):
            out = fn()
        self.pass_s[name] = time.perf_counter() - t
        return out


# ------------------------------------------------------------------ flagship


class Flagship(Workload):
    """Drifted images table from Parquet, validated against FLAGSHIP_SCHEMA
    by operators.validate.validate: per-partition verdicts plus the
    violation sink."""

    def setup(self):
        from json_schema_clj_spark.plans.compiler import compile_for_table
        from json_schema_clj_spark.sources.images import FLAGSHIP_SCHEMA

        self.schema = FLAGSHIP_SCHEMA
        self.df = self.spark.read.parquet(os.path.join(self.inputs, "images"))
        with self.span("compile"):
            compile_for_table(self.schema, self.df.schema)

    def plan(self):
        from json_schema_clj_spark.operators.validate import validate

        with self.span("plan"):
            return validate(self.df, self.schema, id_cols=["image_id"], part_col="part_id")

    def op(self, i):
        res = self.plan()
        with self.span("verdict"):
            verdicts = res["verdicts"].collect()
        with self.span("sink"):
            res["violations"].write.mode("overwrite").parquet(self.sink)
        return verdicts

    def check(self, i, verdicts):
        exp = self.expected
        got = {str(r["part_id"]): [r["n_rows"], r["n_fail"]] for r in verdicts}
        problems = []
        if got != exp["verdicts"]:
            bad = sorted(p for p in exp["verdicts"] if got.get(p) != exp["verdicts"][p])
            problems.append(f"verdicts differ on partitions {bad[:8]}")
        if any(r["pass"] != (r["n_fail"] == 0) for r in verdicts):
            problems.append("pass flag disagrees with n_fail")
        n = parquet_rows(self.sink)
        if n != exp["violations"]:
            problems.append(f"violation sink has {n} rows, expected {exp['violations']}")
        return problems

    def cuts(self, i):
        with self.span("scan"):
            noop_scan(self.df)

    def detail(self, layer):
        exp = self.expected
        return {
            "compiler.compile_s": layer.setup("compile"),
            "sources.scan_rows_per_s": layer["layer.scan_rows_per_s"],
            "validate.verdict_s": layer["layer.verdict_s"],
            "validate.verdict_self_s": layer["layer.verdict_self_s"],
            "validate.sink_s": layer["layer.sink_s"],
            "validate.sink_self_s": layer["layer.sink_self_s"],
            "validate.failing_row_ratio": exp["failing_rows"] / exp["rows"],
            "validate.violations_per_failing_row": exp["violations"] / exp["failing_rows"],
        }


# ------------------------------------------------------------------ table_checks


class TableChecks(Workload):
    """The same drifted images table through four operators, each writing
    its output: salted uniqueness on image_id, duplicates on phash,
    dangling fmt against a 3-row dimension, drift of w per part_id."""

    warmup = 3
    op_s = 2.0

    def setup(self):
        from json_schema_clj_spark.operators import drift, referential, uniqueness

        self.df = df = self.spark.read.parquet(os.path.join(self.inputs, "images"))
        dim = self.spark.createDataFrame([(f,) for f in self.expected["dim_formats"]], "fmt string")
        self.checks = {
            "uniqueness.image_id": lambda: uniqueness.uniqueness_violations(
                df, ["image_id"], id_cols=["image_id"], salted=True
            ),
            "uniqueness.phash": lambda: uniqueness.duplicates(df, ["phash"]),
            "referential.dangling": lambda: referential.dangling(df, "fmt", dim, "fmt"),
            "drift.detect": lambda: drift.detect_drift(
                df, "w", "part_id", baseline_filter=F.col("part_id") < 32,
                lo=0.0, hi=5200.0, buckets=64, ks_threshold=0.08, psi_threshold=0.15,
            ),
        }

    def plans(self):
        out = {}
        for name, build in self.checks.items():
            with self.span("plan"):
                out[name] = build()
        return out

    def op(self, i):
        for name, res in self.plans().items():
            with self.span("check." + name), self.span("sink"):
                res.write.mode("overwrite").parquet(f"{self.sink}/{name}")

    def check(self, i, _):
        exp = self.expected
        problems = []
        ids = sorted(read_parquet(f"{self.sink}/uniqueness.image_id", ["image_id"])["image_id"])
        if ids != sorted(exp["image_id_dups"] * 2):
            problems.append(f"uniqueness on image_id flagged {len(ids)} rows, expected {2 * len(exp['image_id_dups'])}")
        ph = read_parquet(f"{self.sink}/uniqueness.phash", ["n"])["n"]
        if (len(ph), sum(ph)) != (exp["phash_dup_keys"], exp["phash_dup_rows"]):
            problems.append(f"phash duplicates: {len(ph)} keys / {sum(ph)} rows")
        fmts = read_parquet(f"{self.sink}/referential.dangling", ["fmt"])["fmt"]
        got = {f: fmts.count(f) for f in set(fmts)}
        if got != exp["dangling"]:
            problems.append(f"dangling formats {got}, expected {exp['dangling']}")
        dr = read_parquet(f"{self.sink}/drift.detect", ["group", "drifted"])
        flagged = sorted(str(g) for g, d in zip(dr["group"], dr["drifted"]) if d)
        if len(dr["group"]) != 64 or flagged != sorted(exp["drifted"]):
            problems.append(f"drift flagged {len(flagged)} of {len(dr['group'])} groups")
        return problems

    def cuts(self, i):
        with self.span("scan"):
            noop_scan(self.df.select("image_id", "phash", "fmt", "w", "part_id"))
        for res in self.plans().values():
            with self.span("verdict"):
                res.count()

    def detail(self, layer):
        d = {"sources.scan_rows_per_s": layer["layer.scan_rows_per_s"]}
        for name in self.checks:
            d[name + "_s"] = layer.per_op("check." + name)
            d.update(layer.spark_under("check." + name, name + "."))
        return d


# ------------------------------------------------------------------ json_docs


class JsonDocs(Workload):
    """Seeded JSON lines read by sources.jsonl.read_jsonl and validated by
    engine.validate_json_column against the `plain` and the `crossfield`
    schema, each pass writing its violation sink."""

    CLASSES = ("plain", "crossfield")
    warmup = 4
    op_s = 2.4

    def setup(self):
        from json_schema_clj_spark.sources.jsonl import read_jsonl

        with open(os.path.join(self.inputs, "schemas.json")) as f:
            self.schemas = json.load(f)
        self.docs = read_jsonl(self.spark, os.path.join(self.inputs, "docs.jsonl"))
        with self.span("compile"):
            for cls in self.CLASSES:
                self.validated(cls)

    def validated(self, cls, backend=None):
        from json_schema_clj_spark.engine import validate_json_column

        with self.span("plan"):
            return validate_json_column(
                self.docs, self.schemas[cls], json_col="doc_json", force_backend=backend
            )

    def one_pass(self, cls):
        from json_schema_clj_spark.operators.validate import violation_rows

        out = self.validated(cls)
        with self.span("sink"):
            violation_rows(out, ["ingest_id"], prefilter=~F.col("valid")).write.mode(
                "overwrite"
            ).parquet(f"{self.sink}/{cls}")

    def op(self, i):
        for cls in self.CLASSES:
            self.timed_pass(cls, lambda: self.one_pass(cls))

    def op_rows(self, i):
        return self.expected["rows"] * len(self.CLASSES)

    def check(self, i, _):
        exp = self.expected
        problems = []
        for cls in self.CLASSES:
            ids = read_parquet(f"{self.sink}/{cls}", ["ingest_id"])["ingest_id"]
            if len(set(ids)) != exp["invalid"][cls]:
                problems.append(f"{cls}: {len(set(ids))} invalid docs, expected {exp['invalid'][cls]}")
            if len(ids) != exp["violations"][cls]:
                problems.append(f"{cls}: {len(ids)} violations, expected {exp['violations'][cls]}")
        return problems

    def cuts(self, i):
        from json_schema_clj_spark.pyvalidator.validator import compile_schema

        with self.span("compile.pyvalidator"):
            compile_schema(self.schemas["crossfield"])
        with self.span("scan"):
            noop_scan(self.docs)
        for cls in self.CLASSES:
            with self.span("pass." + cls):
                out = self.validated(cls)
                with self.span("verdict"):
                    out.where(~F.col("valid")).count()
        with self.span("parse"):
            noop_scan(self.docs.select(F.try_parse_json("doc_json").alias("v")))
        with self.span("pass.plain_python"):
            out = self.validated("plain", backend="python")
            with self.span("udf"):
                out.where(~F.col("valid")).count()

    def detail(self, layer):
        n = self.expected["rows"]
        d = {
            "sources.scan_rows_per_s": layer["layer.scan_rows_per_s"],
            "variant.parse_rows_per_s": n / layer.per_op("parse"),
            "pyvalidator.compile_s": layer.per_op("compile.pyvalidator"),
            "pyvalidator.udf_rows_per_s.plain": n / layer.per_op("udf"),
        }
        for cls in self.CLASSES:
            d[f"{cls}.verdict_rows_per_s"] = n / layer.per_op("verdict", parent="pass." + cls)
            d[f"{cls}.sink_s"] = layer.per_op("sink", parent="pass." + cls)
            d[f"{cls}.sink_self_s"] = d[f"{cls}.sink_s"] - layer.per_op("verdict", parent="pass." + cls)
            d[f"{cls}.failing_row_ratio"] = self.expected["invalid"][cls] / n
            d[f"{cls}.violations_per_failing_row"] = (
                self.expected["violations"][cls] / self.expected["invalid"][cls]
            )
        # naming by schema class keeps these valid when dispatch changes;
        # today `plain` runs on the Variant tier and `crossfield` on the
        # Arrow-Python tier
        d["variant.rows_per_s"] = d["plain.verdict_rows_per_s"]
        d["pyvalidator.udf_rows_per_s.crossfield"] = d["crossfield.verdict_rows_per_s"]
        return d


# ------------------------------------------------------------------ schema_corpus


class SchemaCorpus(Workload):
    """A seeded, popularity-skewed draw of the distinct fixture schemas.
    One operation builds a small DataFrame of one schema's fixture docs,
    runs engine.validate_json_column on it and collects the verdicts."""

    warmup = 5
    op_s = 0.3

    def setup(self):
        from json_schema_clj_spark import engine

        self.engine = engine
        with open(os.path.join(self.inputs, "corpus.json")) as f:
            corpus = json.load(f)
        self.schemas = corpus["schemas"]
        self.draw = corpus["draw"]
        self.accepted: set[int] = set()
        self.calls = self.hits = self.accepts = 0

    def max_ops(self):
        return len(self.draw)

    def entry(self, i):
        return self.schemas[self.draw[i]]

    def op_id(self, i):
        return f"op{i}:{self.entry(i)['id']}"

    def op_rows(self, i):
        return len(self.entry(i)["cases"])

    scan_rows = op_rows

    def validated(self, i):
        e = self.entry(i)
        with self.span("source"):
            df = self.spark.createDataFrame(
                [(k, d) for k, (d, _) in enumerate(e["cases"])], "idx int, data_json string"
            )
        cache = getattr(self.engine, "_JSON_COMPILE_CACHE", {})
        before = len(cache)
        with self.span("plan"):
            out = self.engine.validate_json_column(df, json.loads(e["schema"]))
        # a Variant-tier compile adds one cache entry; a hit or a fallback
        # to the Arrow-Python tier adds none
        self.calls += 1
        self.hits += self.draw[i] in self.accepted
        if len(cache) > before:
            self.accepted.add(self.draw[i])
        self.accepts += self.draw[i] in self.accepted
        return df, out

    def op(self, i):
        self.last = self.validated(i)
        with self.span("verdict"):
            return self.last[1].select("idx", "valid").collect()

    def check(self, i, rows):
        want = [v for _, v in self.entry(i)["cases"]]
        got = [r["valid"] for r in sorted(rows, key=lambda r: r["idx"])]
        bad = [k for k, (g, w) in enumerate(zip(got, want)) if g is not w]
        if len(got) != len(want) or bad:
            return [f"wrong verdict on cases {bad[:8]} of {len(want)}"]
        return []

    def cuts(self, i):
        from json_schema_clj_spark.pyvalidator.validator import compile_schema

        df, out = self.last
        with self.span("scan"):
            df.collect()
        with self.span("sink"):
            out.select("idx", "valid", "violations").collect()
        if self.draw[i] not in self.accepted:
            with self.span("compile.pyvalidator"):
                compile_schema(json.loads(self.entry(i)["schema"]))

    def detail(self, layer):
        return {
            "engine.plan_s": layer["layer.plan_s"],
            "engine.variant_accept_ratio": self.accepts / max(self.calls, 1),
            "engine.cache_hit_ratio": self.hits / max(self.calls, 1),
            "engine.calls": self.calls,
            "pyvalidator.compile_s": med(layer.tracer.durations("compile.pyvalidator")),
        }


WORKLOADS = {
    "flagship": Flagship,
    "json_docs": JsonDocs,
    "schema_corpus": SchemaCorpus,
    "table_checks": TableChecks,
}


# ------------------------------------------------------------------ layers


class Layers(dict):
    """Per-layer metrics from the traced operations' spans and jobs."""

    def __init__(self, tracer: Tracer, jobs: list[dict], traced: dict, untraced: list, gc_during: dict):
        super().__init__()
        self.tracer = tracer
        self.jobs = jobs
        self.traces = set(traced)

        def per_trace(name, parent=None, root=None):
            sums = {t: 0.0 for t in self.traces}
            for s in tracer.spans:
                if s["name"] == name and s["trace"] in sums and (
                    parent is None
                    or (s["parent"] is not None and tracer.spans[s["parent"]]["name"] == parent)
                ) and (root is None or tracer.root(s["id"])["name"] == root):
                    sums[s["trace"]] += s["end"] - s["start"]
            return sums

        self.per_trace = per_trace
        scan, verdict, sink = per_trace("scan"), per_trace("verdict"), per_trace("sink")
        n_verdicts = {t: 0 for t in self.traces}
        for s in tracer.spans:
            if s["name"] == "verdict" and s["trace"] in n_verdicts:
                n_verdicts[s["trace"]] += 1
        self["layer.scan_rows_per_s"] = med([traced[t] / scan[t] for t in self.traces])
        self["layer.plan_s"] = med(list(per_trace("plan", root="op").values()))
        self["layer.verdict_s"] = med(list(verdict.values()))
        self["layer.verdict_self_s"] = med([verdict[t] - n_verdicts[t] * scan[t] for t in self.traces])
        self["layer.sink_s"] = med(list(sink.values()))
        self["layer.sink_self_s"] = med([sink[t] - verdict[t] for t in self.traces])

        by_trace: dict[str, list[dict]] = {t: [] for t in self.traces}
        for j in jobs:
            if j["span"] is None:
                continue
            root = tracer.root(j["span"])
            if root["name"] == "op" and root["trace"] in by_trace:
                by_trace[root["trace"]].append(j)

        def per_op_sum(key):
            return med([sum(j[key] for j in js) for js in by_trace.values()])

        run = sum(j["run_s"] for js in by_trace.values() for j in js)
        cpu = sum(j["cpu_s"] for js in by_trace.values() for j in js)
        self["spark.jobs_per_op"] = med([len(js) for js in by_trace.values()])
        self["spark.stages_per_op"] = med([sum(j["n_stages"] for j in js) for js in by_trace.values()])
        self["spark.executor_run_s"] = per_op_sum("run_s")
        self["spark.executor_cpu_s"] = per_op_sum("cpu_s")
        self["spark.cpu_ratio"] = cpu / run if run else float("nan")
        self["spark.jvm_gc_s"] = med([gc_during[t] for t in self.traces])
        self["spark.shuffle_write_bytes"] = per_op_sum("shuffle_write")
        self["spark.shuffle_read_bytes"] = per_op_sum("shuffle_read")
        self["spark.spill_bytes"] = per_op_sum("spill")
        self["spark.task_skew"] = med([max([j["skew"] for j in js] or [1.0]) for js in by_trace.values()])
        self["trace.overhead_ratio"] = med(tracer.durations("op")) / med(untraced)

    def spark_under(self, prefix: str, out: str) -> dict:
        """Task metrics of the jobs run inside spans named `prefix`*, per
        traced operation (median), and the worst stage skew among them."""
        per = {t: {"run_s": 0.0, "shuffle_write": 0, "shuffle_read": 0, "spill": 0, "skew": 1.0} for t in self.traces}
        for j in self.jobs:
            s = self.tracer.spans[j["span"]] if j["span"] is not None else None
            while s is not None and not s["name"].startswith(prefix):
                s = self.tracer.spans[s["parent"]] if s["parent"] is not None else None
            if s is None or s["trace"] not in per:
                continue
            acc = per[s["trace"]]
            for k in ("run_s", "shuffle_write", "shuffle_read", "spill"):
                acc[k] += j[k]
            acc["skew"] = max(acc["skew"], j["skew"])
        names = {"run_s": "executor_run_s", "shuffle_write": "shuffle_write_bytes",
                 "shuffle_read": "shuffle_read_bytes", "spill": "spill_bytes", "skew": "task_skew"}
        return {out + v: med([acc[k] for acc in per.values()]) for k, v in names.items()}

    def per_op(self, name, parent=None) -> float:
        return med(list(self.per_trace(name, parent).values()))

    def setup(self, name) -> float:
        return med(self.tracer.durations(name, traces={"setup"}))


# ------------------------------------------------------------------ main


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--result", required=True)
    a = ap.parse_args()

    run_dir = os.path.join(STATE, "runs", str(os.getpid()))
    log_dir = os.path.join(run_dir, "eventlog") if a.trace else None
    spark = spark_session(f"perfbench-{a.workload}", log_dir)
    session_s = time.monotonic() - a.t0
    sc = spark.sparkContext
    tracer = Tracer(sc, enabled=bool(a.trace))
    wl = WORKLOADS[a.workload](spark, a.inputs, tracer, os.path.join(run_dir, "sink"))
    tracer.trace_id = "setup"
    wl.setup()
    compile_s = time.monotonic() - a.t0 - session_s

    attempted = failed = 0
    failures: list[dict] = []
    gc_during: dict[str, float] = {}  # trace id -> JVM GC seconds in the op
    beans = sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()

    def jvm_gc_s() -> float:
        # driver and executors share this JVM in local mode
        return sum(b.getCollectionTime() for b in beans) / 1e3

    def run(i: int, traced: bool):
        """One operation, checked; returns its seconds, or None on failure."""
        nonlocal attempted, failed
        sc._jvm.System.gc()
        gc.collect()
        tracer.enabled = traced
        tracer.trace_id = f"op{i}"
        attempted += 1
        problems: list[str] = []
        gc0 = jvm_gc_s() if traced else 0.0
        t = time.perf_counter()
        try:
            with tracer.span("op"):
                out = wl.op(i)
            dt = time.perf_counter() - t
            if traced:
                gc_during[f"op{i}"] = jvm_gc_s() - gc0
            problems = wl.check(i, out)
        except Exception as e:  # a Spark failure counts against the op
            problems = [f"{type(e).__name__}: {str(e).splitlines()[0][:300] if str(e) else ''}"]
        if problems:
            failed += 1
            failures.append({"id": wl.op_id(i), "problems": problems})
            return None
        return dt

    i = 0
    for _ in range(wl.warmup):
        run(i, False)
        i += 1
    sc._jvm.System.gc()
    gc.collect()
    setup_s = time.monotonic() - a.t0

    timed: list[tuple[float, int]] = []  # (seconds, rows)
    traced: dict[str, int] = {}  # trace id -> rows its scan cut reads
    passes: dict[str, list[float]] = {}
    # a fixed number of operations, sized from --seconds by the workload's
    # nominal operation time, so the median sits at the same point of the
    # JIT warm-up curve on every run however fast the host is.  Runs drift
    # apart the longer they go (each JVM's JIT settles differently), so a
    # short window right after the warm-up is the steadier one.
    n_ops = max(3, round(a.seconds / wl.op_s))
    # a traced run pairs untraced and traced operations, in alternating
    # order so that neither kind always follows the previous layer cuts
    kinds = [k % 4 in (1, 2) for k in range(2 * max(2, n_ops // 2))] if a.trace else [False] * n_ops
    for traced_op in kinds:
        if i >= wl.max_ops():
            break
        dt = run(i, traced_op)
        if dt is not None and not traced_op:
            timed.append((dt, wl.op_rows(i)))
            for k, v in wl.pass_s.items():
                passes.setdefault(k, []).append(v)
        elif dt is not None:
            traced[f"op{i}"] = wl.scan_rows(i)
            try:
                with tracer.span("cut"):
                    problems = wl.cuts(i) or []
            except Exception as e:  # the op's layer figures are incomplete
                problems = [f"cut: {type(e).__name__}: {str(e)[:300]}"]
            if problems:
                failed += 1
                failures.append({"id": wl.op_id(i), "problems": problems})
                del traced[f"op{i}"]
        i += 1
    tracer.enabled = False
    spark.stop()

    lat = sorted(t for t, _ in timed)
    result = {"attempted": attempted, "failed": failed, "failures": failures}
    detail = {
        "session_start_s": session_s,
        "setup_compile_s": compile_s,
        "ops_timed": len(lat),
        "latencies_s": [round(t, 4) for t, _ in timed],
    }
    if len(lat) >= 100:  # at least ten samples beyond the p90
        detail["latency_p90_s"] = statistics.quantiles(lat, n=10)[-1]
    for k, v in passes.items():
        detail[f"{k}_rows_per_s"] = wl.expected["rows"] / med(v)
    if a.trace:
        layers = Layers(tracer, read_event_log(log_dir), traced, [t for t, _ in timed], gc_during)
        result["metrics"] = dict(layers)
        detail.update(wl.detail(layers))
        detail["ops_traced"] = len(traced)
        tracer.dump(os.path.join(STATE, f"spans-{a.workload}.json"))
    else:
        result["metrics"] = {
            "rows_per_s": med([rows / t for t, rows in timed]),
            "latency_p50_s": med(lat),
            "setup_s": setup_s,
        }
    result["detail"] = detail
    with open(a.result, "w") as f:
        json.dump(result, f)
    shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
