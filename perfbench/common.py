"""Paths, input sizes and the fixed Spark session of the benchmark.

The measured process runs Spark at ``local[2]`` with two shuffle
partitions, a fixed, pre-touched 2 GiB driver heap, the UI off, and its
scratch space (Spark local dir, temp files, event logs, sinks) under
``.perfbench/`` in the checkout, so a run reads and writes nothing outside
it.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")
INPUTS = os.path.join(STATE, "inputs")
TMP = os.path.join(STATE, "tmp")

WORKLOADS = ("flagship", "json_docs", "schema_corpus", "table_checks")

# input sizes, part of each input's cache key
SIZES = {
    "flagship": 200_000,  # image rows
    "json_docs": 300,  # JSON documents
    "schema_corpus": 600,  # operations drawn
    "table_checks": 100_000,  # image rows
}


def input_dir(workload: str, seed: int) -> str:
    return os.path.join(INPUTS, f"{workload}-s{seed}-n{SIZES[workload]}")


def engine_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "json_schema_clj_spark", "__init__.py"))


def child_env() -> dict:
    """Environment for the generator and worker processes: temp files and
    Python workers pinned to the checkout and this interpreter."""
    os.makedirs(TMP, exist_ok=True)
    env = dict(os.environ)
    env.update(
        TMPDIR=TMP,
        SPARK_LOCAL_DIRS=os.path.join(STATE, "spark-local"),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYTHONHASHSEED="0",
        PYTHONDONTWRITEBYTECODE="1",
        # every JVM, the spark-submit launcher too: no hsperfdata, temp
        # files under the checkout
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={TMP}",
    )
    env["PYTHONPATH"] = ROOT + (os.pathsep + env["PYTHONPATH"] if env.get("PYTHONPATH") else "")
    return env


def spark_session(app: str, event_log_dir: str | None = None):
    from pyspark.sql import SparkSession

    local = os.path.join(STATE, "spark-local")
    os.makedirs(local, exist_ok=True)
    b = (
        SparkSession.builder.master("local[2]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.default.parallelism", "2")
        .config("spark.driver.memory", "2g")
        .config("spark.driver.extraJavaOptions", "-Xms2g -XX:+AlwaysPreTouch")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(STATE, "warehouse"))
        .config("spark.sql.session.timeZone", "UTC")
    )
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + event_log_dir)
            .config("spark.eventLog.compress", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
