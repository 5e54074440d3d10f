"""One benchmark run, in a fresh process started by ``run.py``.

Sets up a session, runs WARMUP_PASSES untimed passes over the
workload's queries, then timed passes in a closed loop (one client:
the next query starts when the previous one returns) until
``--seconds`` have passed. Each execution is the registry callable
followed by ``bench.materialize``, the full-row-hash action; its row
count and hash are checked against ``expected.json``. With
``--trace 1`` untraced and traced passes alternate; traced passes
record spans and read Spark's status stores after the pass, and the
record carries per-layer metrics too.

The run record is written as JSON to ``--record``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

from metrics import check_result, pass_orders  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

CALIB_ROWS = 20_000_000
#: untimed passes before timing starts: the first pass runs 1.5-2.5x
#: slower than later ones. A count, not a duration, so that every run
#: starts timing after the same amount of JIT warm-up, however fast the
#: host is at the time.
WARMUP_PASSES = 2


class _Capture:
    """Hands ``bench.materialize`` the DataFrame and keeps the row its
    final ``collect`` returns, so the action stays bench's own."""

    def __init__(self, df, rows: list) -> None:
        self._df = df
        self._rows = rows

    def __getattr__(self, name):
        return getattr(self._df, name)

    def select(self, *args, **kwargs):
        return _Capture(self._df.select(*args, **kwargs), self._rows)

    def agg(self, *args, **kwargs):
        return _Capture(self._df.agg(*args, **kwargs), self._rows)

    def collect(self):
        rows = self._df.collect()
        self._rows.extend(rows)
        return rows


def host_calib(spark, cpus: int) -> float:
    """A fixed all-core Spark job: hash-sum CALIB_ROWS ids."""
    from pyspark.sql import functions as F

    t0 = time.time()
    spark.range(0, CALIB_ROWS, 1, 2 * cpus).select(F.sum(F.xxhash64("id"))).collect()
    return time.time() - t0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this interpreter plus the JVM it
    launched (the py4j gateway process)."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


class Runner:
    """Executes queries one at a time and counts the failed ones.

    ``queries`` maps names to registry callables and ``materialize``
    is the action run on each result (``bench.materialize``)."""

    def __init__(self, spark, sf_dir: str, expected: dict, queries, materialize) -> None:
        self.spark = spark
        self.sf_dir = sf_dir
        self.expected = expected
        self.queries = queries
        self.materialize = materialize
        self.attempted = 0
        self.failures: list[str] = []
        self.tracer = None

    def execute(self, name: str) -> float:
        """Build and run one query; return its wall time."""
        tracer = self.tracer
        self.attempted += 1
        rows: list = []
        t0 = time.time()
        try:
            if tracer is None or not tracer.active:
                n = self.materialize(_Capture(self.queries[name](self.spark, self.sf_dir), rows))
            else:
                tracer.query = name
                with tracer.span("query"):
                    with tracer.span("build") as sid:
                        tracer.phase, tracer.root = "build", sid
                        try:
                            df = self.queries[name](self.spark, self.sf_dir)
                        finally:
                            tracer.phase, tracer.root = None, None
                    with tracer.span("action"):
                        n = self.materialize(_Capture(df, rows))
        except Exception as e:  # a failing query is counted, the run goes on
            self.failures.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
            return time.time() - t0
        elapsed = time.time() - t0
        problem = check_result(self.expected, name, n, rows[0][1])
        if problem:
            self.failures.append(problem)
        return elapsed

    def run_pass(self, order) -> tuple[float, dict[str, float]]:
        times = {}
        t0 = time.time()
        for name in order:
            times[name] = self.execute(name)
        return time.time() - t0, times


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--spawned-at", type=float, required=True)
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--expected", required=True)
    ap.add_argument("--record", required=True)
    ap.add_argument("--spans", required=True)
    args = ap.parse_args()

    import bench
    from data_frame_spark import queries as Q
    from data_frame_spark.session import get_spark, load_table

    import tracing

    wl = WORKLOADS[args.workload]
    with open(args.expected) as f:
        expected = json.load(f)["workloads"][wl.name]
    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    conf = {"spark.ui.showConsoleProgress": "false"}
    if args.trace:
        conf.update(tracing.RETENTION_CONF)

    t0 = time.time()
    spark = get_spark("perfbench", extra_conf=conf)
    get_spark_s = time.time() - t0
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    for table in wl.tables:
        load_table(spark, args.sf_dir, table).limit(1).count()
    setup_s = time.time() - args.spawned_at

    runner = Runner(spark, args.sf_dir, expected, Q.QUERIES, bench.materialize)
    for _ in range(WARMUP_PASSES):
        runner.run_pass(wl.queries)
    # the anchors run after warm-up so that JIT compilation does not
    # inflate the first read; bench's single-core anchor costs ~2 s a
    # read, so only traced runs take it
    calib = {"host_pre": host_calib(spark, cpus)}
    if args.trace:
        calib["cpu_pre"] = bench.cpu_calib()

    # enough orders for any run; the seed alone fixes the sequence
    orders = iter(pass_orders(wl.queries, args.seed, 1000))
    passes: list[tuple[float, dict]] = []
    traced: list[tuple[float, dict]] = []
    per_pass: list[dict] = []
    if args.trace:
        # traced and untraced passes alternate, so trace.overhead compares
        # passes from the same stretch of the run
        tracer = runner.tracer = tracing.Tracer()
        tracing.install(tracer)
        store = tracing.StatusStore(spark)
    t_measure = time.time()
    while (
        len(passes) + len(traced) < 1 + args.trace
        or time.time() - t_measure < args.seconds
    ):
        if not args.trace or len(passes) <= len(traced):
            passes.append(runner.run_pass(next(orders)))
            continue
        tracer.active, tracer.pass_no = True, len(traced)
        p0 = time.time()
        traced.append(runner.run_pass(next(orders)))
        p1 = time.time()
        tracer.active = False
        store.drain()
        per_pass.append(tracing.pass_metrics(
            tracer.spans, tracing.self_times(tracer.spans), tracer.pass_no, (p0, p1),
            store.jobs(), store.stages(), store.new_executions(),
        ))

    calib["host_post"] = host_calib(spark, cpus)
    if args.trace:
        calib["cpu_post"] = bench.cpu_calib()
    record = {
        "workload": wl.name,
        "seed": args.seed,
        "setup_s": setup_s,
        "get_spark_s": get_spark_s,
        "pass_s": [p for p, _ in passes],
        "query_s": {n: [q[n] for _, q in passes] for n in wl.queries},
        "traced_pass_s": [p for p, _ in traced],
        "attempted": runner.attempted,
        "failed": len(runner.failures),
        "failures": runner.failures,
        "peak_rss_mb": peak_rss_mb(spark),
        "calib": calib,
        "host_calib_s": (calib["host_pre"] + calib["host_post"]) / 2,
    }
    if args.trace:
        layers = tracing.median_of(per_pass)
        for name, times in record["query_s"].items():
            layers[f"query.{name}.s"] = statistics.median(times)
        layers["session.get_spark_s"] = get_spark_s
        layers["host.calib_s"] = record["host_calib_s"]
        layers["host.cpu_calib_s"] = (calib["cpu_pre"] + calib["cpu_post"]) / 2
        layers["trace.overhead"] = statistics.median(
            record["traced_pass_s"]
        ) / statistics.median(record["pass_s"])
        record["per_layer"] = layers
        with open(args.spans, "w") as f:
            json.dump({"workload": wl.name, "seed": args.seed, "spans": tracer.spans}, f)
    with open(args.record + ".tmp", "w") as f:
        json.dump(record, f, indent=1)
    os.replace(args.record + ".tmp", args.record)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
