"""Per-query profiler for the optimization rounds (guide §1).

For each named query (default: all), one session like bench.py's:

- t_build: wall time of the registry callable (plan construction,
  including any driver-side collects the builder performs — BPE
  argmaxes, quantile literals, ...),
- t_exec: wall time of the bench's full_row_hash materialization,
- n_jobs: Spark jobs the (build + materialize) pair scheduled,
  counted via a per-query job group,
- py4j: py4j commands the driver sent on any thread during the
  (build + materialize) pair, object-release (``m``) commands left
  out: those follow Python's garbage collection, so the count repeats
  from run to run without them,
- optionally (--plans DIR) the ``explain("formatted")`` text written
  to DIR/<name>_<tag>.txt.

Usage:
    python tools/profile_queries.py [--plans plans/r18 --tag before] [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

from py4j.clientserver import ClientServerConnection
from py4j.protocol import MEMORY_COMMAND_NAME

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_frame_spark.session import get_spark, load_table, TPCH_TABLES
from data_frame_spark import queries as Q
from bench import materialize, cpu_calib

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: calib reads above this are a host-contended window (healthy ~1.0-1.4 s
#: on this box); numbers from such a window MUST NOT feed A/B claims
#: (r18 VERDICT #10: make the profiler refuse, so a session can't
#: accidentally chase host noise)
CALIB_MAX = 1.5


class Py4jCounter:
    """Counts the py4j commands sent on every thread, object releases
    aside, by wrapping ``ClientServerConnection.send_command``."""

    def __init__(self) -> None:
        self.n = 0
        self._lock = threading.Lock()
        send = ClientServerConnection.send_command

        def counting_send(conn, command, *args, **kwargs):
            if not command.startswith(MEMORY_COMMAND_NAME):
                with self._lock:
                    self.n += 1
            return send(conn, command, *args, **kwargs)

        ClientServerConnection.send_command = counting_send


def main(argv: list[str]) -> None:
    plans_dir = None
    tag = "before"
    args = list(argv)
    if "--plans" in args:
        i = args.index("--plans")
        plans_dir = args[i + 1]
        del args[i : i + 2]
        os.makedirs(plans_dir, exist_ok=True)
    if "--tag" in args:
        i = args.index("--tag")
        tag = args[i + 1]
        del args[i : i + 2]
    names = args or list(Q.QUERIES)

    spark = get_spark("data_frame_spark-profile")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    for tbl in TPCH_TABLES:
        try:
            load_table(spark, SF_DIR, tbl).limit(1).count()
        except Exception:
            pass

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    calib_pre = cpu_calib()
    py4j = Py4jCounter()
    out = {}
    for name in names:
        fn = Q.QUERIES[name]
        sc.setJobGroup(name, name)
        sc.setJobDescription(name)
        c0 = py4j.n
        t0 = time.time()
        df = fn(spark, SF_DIR)
        t1 = time.time()
        n = materialize(df)
        t2 = time.time()
        cmds = py4j.n - c0
        jobs = tracker.getJobIdsForGroup(name)
        sc.setJobGroup("", "")
        rec = {
            "build": round(t1 - t0, 3),
            "exec": round(t2 - t1, 3),
            "total": round(t2 - t0, 3),
            "jobs": len(jobs),
            "py4j": cmds,
            "rows": n,
        }
        out[name] = rec
        print(f"# {name}: total={rec['total']:.2f} build={rec['build']:.2f} "
              f"exec={rec['exec']:.2f} jobs={rec['jobs']} py4j={cmds} rows={n}",
              file=sys.stderr, flush=True)
        if plans_dir:
            txt = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            with open(os.path.join(plans_dir, f"{name}_{tag}.txt"), "w") as f:
                f.write(txt)
    calib_post = cpu_calib()
    if max(calib_pre, calib_post) > CALIB_MAX:
        # contended window: the timings above are NOT comparison-grade.
        # Suppress the machine-readable dict (the thing sessions paste
        # into A/B tables) and exit nonzero so scripts notice.
        print(
            f"# CALIB UNHEALTHY ({calib_pre}/{calib_post} s > {CALIB_MAX}):"
            " host-contended window — timings suppressed; re-run when the"
            " anchor reads ~1.0-1.4 s",
            file=sys.stderr,
        )
        print(json.dumps({"calib_sec": [calib_pre, calib_post], "unhealthy": True}))
        sys.exit(3)
    print(f"# calib_sec=[{calib_pre}, {calib_post}] (healthy)", file=sys.stderr)
    out["__calib_sec__"] = [calib_pre, calib_post]
    print(json.dumps(out, indent=1, sort_keys=True))


if __name__ == "__main__":
    main(sys.argv[1:])
