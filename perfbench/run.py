"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1 [--out PATH]

Run from the root of a checkout. Each call runs one workload in a fresh
worker process on ``local[<cores>]`` and prints every metric by name
with its unit, then, as the last line of standard output, one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are BENCHMARK.json's ``end_to_end`` list,
with ``--trace 1`` its ``per_layer`` list.

Everything the benchmark writes stays under ``.bench_build/perfbench``
in the checkout: the 10x inputs (derived once, reused by later runs),
Spark's scratch space, one log per run and the traced run's spans.
``--out PATH`` also writes the full run record there.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
BASE_INPUTS = os.path.join(HERE, "data", "sf0.01")
X10_INPUTS = os.path.join(BUILD, "inputs", "x10")

sys.path.insert(0, HERE)

from metrics import fail_ratio, result_line  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

#: a run, inputs excluded, must end within this many seconds
RUN_LIMIT_S = 170
INPUTS_LIMIT_S = 700


def _env() -> dict[str, str]:
    tmp = os.path.join(BUILD, "tmp")
    local = os.path.join(BUILD, "spark-local")
    for d in (tmp, local, os.path.join(BUILD, "logs")):
        os.makedirs(d, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, env.get("PYTHONPATH")) if p
        ),
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    return env


def _run_group(cmd: list[str], env: dict, log_path: str, timeout: float) -> int:
    """Run ``cmd`` in its own process group with output to ``log_path``;
    on return every process of the group (the JVM and Python workers
    included) has ended."""
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            cmd, cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            return proc.wait(timeout=max(timeout, 1))
        except subprocess.TimeoutExpired:
            print(f"timed out after {timeout:.0f} s: {' '.join(cmd)}", file=sys.stderr)
            return -1
        finally:
            _kill_group(proc)


def _kill_group(proc: subprocess.Popen) -> None:
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            break
        deadline = time.time() + 5
        while time.time() < deadline:
            if proc.poll() is None:
                time.sleep(0.05)
                continue
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                proc.wait()
                return
            time.sleep(0.05)
    proc.wait()


def _tail(path: str, n: int = 30) -> str:
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


def ensure_inputs(env: dict) -> bool:
    """Derive the 10x inputs unless a complete copy already exists."""
    if os.path.exists(os.path.join(X10_INPUTS, "manifest.json")):
        return True
    log = os.path.join(BUILD, "logs", "inputs.log")
    rc = _run_group(
        [sys.executable, os.path.join(HERE, "inputs.py"), BASE_INPUTS, X10_INPUTS],
        env, log, INPUTS_LIMIT_S,
    )
    if rc != 0:
        print(f"deriving inputs failed (exit {rc}):\n{_tail(log)}", file=sys.stderr)
    return rc == 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="also write the full run record to this file")
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    for need in (spec_path, os.path.join(ROOT, "bench.py"),
                 os.path.join(ROOT, "data_frame_spark", "__init__.py")):
        if not os.path.exists(need):
            print(f"not a data_frame_spark checkout: {need} is missing", file=sys.stderr)
            return 2
    with open(spec_path) as f:
        spec = json.load(f)
    seconds = args.seconds if args.seconds is not None else spec["run_seconds"]
    wl = WORKLOADS[args.workload]

    env = _env()
    # derived on the first run in a checkout, whichever workload it runs
    if not ensure_inputs(env):
        return 1
    sf_dir = X10_INPUTS if wl.inputs == "x10" else BASE_INPUTS

    tag = f"{wl.name}-seed{args.seed}-trace{args.trace}"
    record_path = os.path.join(BUILD, f"{tag}.record.json")
    if os.path.exists(record_path):
        os.remove(record_path)
    log = os.path.join(BUILD, "logs", f"{tag}.log")
    spawned_at = time.time()
    rc = _run_group(
        [
            sys.executable, os.path.join(HERE, "worker.py"),
            "--workload", wl.name, "--seed", str(args.seed),
            "--seconds", str(seconds), "--trace", str(args.trace),
            "--spawned-at", repr(spawned_at), "--sf-dir", sf_dir,
            "--expected", os.path.join(HERE, "expected.json"), "--record", record_path,
            "--spans", os.path.join(BUILD, f"{tag}.spans.json"),
        ],
        env, log, RUN_LIMIT_S,
    )
    if rc != 0 or not os.path.exists(record_path):
        print(f"benchmark run failed (exit {rc}):\n{_tail(log)}", file=sys.stderr)
        return 1
    with open(record_path) as f:
        run = json.load(f)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(run, f, indent=1)

    for problem in run["failures"]:
        print(f"FAILED {problem}", file=sys.stderr)
    result = result_line(run, spec, bool(args.trace))
    shown = dict(result["metrics"])
    if not args.trace:
        shown["fail_ratio"] = {"value": fail_ratio(run), "unit": "ratio"}
        shown["peak_rss_mb"] = {"value": run["peak_rss_mb"], "unit": "MB"}
        # a slow read marks a contended host, not a regression
        shown["host.calib_s"] = {"value": run["host_calib_s"], "unit": "s"}
    for name, m in shown.items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    calib = " ".join(f"{k}={v:.3f}" for k, v in run["calib"].items())
    print(f"# passes={len(run['pass_s'])} calib_s: {calib}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
