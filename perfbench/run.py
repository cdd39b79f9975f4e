"""Benchmark of the validation engine: one workload per invocation.

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from the seed (cached under
``.perfbench/inputs``) in a process of its own, then runs the measured
worker in a fresh process at ``local[2]`` while sampling the high-water RSS
of its whole process tree (driver Python, JVM, Python workers).  Prints a
detail line, then as the last line one JSON object: ``correct``,
``attempted``, ``failed`` and the metrics that ``BENCHMARK.json`` declares
(``end_to_end`` untraced, ``per_layer`` with ``--trace 1``).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import ROOT, STATE, WORKLOADS, child_env, engine_present, input_dir  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
GEN_TIMEOUT_S = 600
WORKER_TIMEOUT_S = 170


def session_pids(sid: int) -> list[int]:
    """Live processes of session `sid` (children started with
    start_new_session keep it even after re-parenting)."""
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(name))
    return pids


def hwm_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def proc_name(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "exited"


def run_session(cmd: list[str], timeout: float, peaks: dict | None = None) -> int:
    """Run `cmd` in a session of its own, wait for it and for every process
    it started; kill the session on timeout.  With `peaks`, keep the name
    and high-water RSS of each live process at the sample where their sum
    was largest."""
    p = subprocess.Popen(cmd, env=child_env(), cwd=ROOT, stdout=sys.stderr, start_new_session=True)
    deadline = time.monotonic() + timeout
    timed_out = False
    alive: set[int] = set()
    while p.poll() is None:
        if peaks is not None:
            # a process counts once two samples saw it: a child the JVM
            # forks to exec a helper briefly reports the JVM's own RSS
            now = set(session_pids(p.pid))
            per = {pid: (proc_name(pid), hwm_kib(pid)) for pid in now & alive}
            alive = now
            if sum(k for _, k in per.values()) > sum(k for _, k in peaks.values()):
                peaks.clear()
                peaks.update(per)
        if time.monotonic() > deadline:
            timed_out = True
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            break
        time.sleep(0.2)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        t = time.monotonic()
        while session_pids(p.pid) and time.monotonic() - t < 10:
            try:
                os.killpg(p.pid, sig)
            except ProcessLookupError:
                break
            time.sleep(0.2)
    return -1 if timed_out else p.returncode


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not engine_present():
        fail(f"json_schema_clj_spark not found under {ROOT}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if a.trace else "end_to_end"]

    inputs = input_dir(a.workload, a.seed)
    if not os.path.exists(os.path.join(inputs, "expected.json")):
        gen = [sys.executable, os.path.join(HERE, "gen.py"), "--workload", a.workload,
               "--seed", str(a.seed), "--out", inputs]
        if run_session(gen, GEN_TIMEOUT_S) != 0:
            fail("input generation failed")

    os.makedirs(STATE, exist_ok=True)
    result_path = os.path.join(STATE, f"result-{os.getpid()}.json")
    peaks: dict[int, tuple[str, int]] = {}
    t0 = time.monotonic()
    worker = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", a.workload,
              "--inputs", inputs, "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--t0", repr(t0), "--result", result_path]
    code = run_session(worker, WORKER_TIMEOUT_S, peaks)
    if code != 0 or not os.path.exists(result_path):
        fail(f"worker exited with code {code}")
    with open(result_path) as f:
        res = json.load(f)
    os.remove(result_path)
    res["metrics"]["peak_rss_mb"] = sum(k for _, k in peaks.values()) / 1024.0
    res["detail"]["peak_rss_mb_by_process"] = {f"{pid}:{name}": kib // 1024 for pid, (name, kib) in peaks.items()}

    names = {m["name"] for m in declared}
    res["detail"].update((k, v) for k, v in res["metrics"].items() if k not in names)
    metrics = {}
    for m in declared:
        v = res["metrics"].get(m["name"])
        if v is None or not math.isfinite(v):
            fail(f"metric {m['name']} was not measured; failures: {res['failures'][:5]}")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                      "failures": res["failures"], "detail": res["detail"]}))
    print(json.dumps({"correct": res["failed"] == 0 and res["attempted"] > 0,
                      "attempted": res["attempted"], "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
