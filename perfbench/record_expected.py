"""Record the expected result of every benchmark query.

    python3 perfbench/record_expected.py

For each workload, runs every query RUNS times through the same action
the benchmark uses and records its (row count, full-row hash); a query
whose results differ is reported as unstable and the script exits 1.
Each query is also cross-checked once against its DuckDB twin from
``__spark_entry__.oracle_sql()`` on the same inputs (order-insensitive
value hash of the collected rows, as ``tools/check_oracle.py``
computes it). Writes ``perfbench/expected.json``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

RUNS = 2


def duckdb_for(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for name in os.listdir(sf_dir):
        if name.endswith(".parquet"):
            path = os.path.join(sf_dir, name)
            src = f"{path}/*.parquet" if os.path.isdir(path) else path
            con.execute(f"CREATE VIEW {name[:-len('.parquet')]} AS SELECT * FROM '{src}'")
    return con


def oracle_check(spark_df, con, sql: str | None, table_hash) -> str:
    if sql is None:
        return "no DuckDB twin"
    srows = [tuple(r) for r in spark_df.collect()]
    res = con.execute(sql)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    if len(srows) != len(orows):
        return f"mismatch: rows {len(srows)} vs {len(orows)}"
    if table_hash(spark_df.columns, srows) != table_hash(ocols, orows):
        return "mismatch: value hash"
    return "match"


def main() -> int:
    env = run._env()
    if not run.ensure_inputs(env):
        return 1
    os.environ.update(env)
    sys.path.insert(0, run.ROOT)
    sys.path.insert(0, os.path.join(run.ROOT, "tools"))

    import __spark_entry__ as entry
    import bench
    from check_oracle import table_hash
    from data_frame_spark.session import get_spark

    from worker import _Capture

    spark = get_spark("perfbench-expected", extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    queries, oracle = entry.queries(), entry.oracle_sql()
    out, unstable = {}, []
    for wl in WORKLOADS.values():
        sf_dir = run.X10_INPUTS if wl.inputs == "x10" else run.BASE_INPUTS
        con = duckdb_for(sf_dir)
        out[wl.name] = {}
        for name in wl.queries:
            seen = set()
            for _ in range(RUNS):
                rows: list = []
                n = bench.materialize(_Capture(queries[name](spark, sf_dir), rows))
                seen.add((n, rows[0][1]))
            if len(seen) > 1:
                unstable.append(f"{wl.name}/{name}: {sorted(seen, key=str)}")
            n, digest = sorted(seen, key=str)[0]
            verdict = oracle_check(queries[name](spark, sf_dir), con, oracle.get(name), table_hash)
            out[wl.name][name] = {"rows": n, "hash": digest, "oracle": verdict}
            print(f"{wl.name}/{name}: rows={n} hash={digest} oracle={verdict}", flush=True)
    spark.stop()
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=run.ROOT, capture_output=True, text=True,
        ).stdout.strip() or None
    except OSError:
        commit = None
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump({"recorded_at": commit, "workloads": out}, f, indent=1)
        f.write("\n")
    for u in unstable:
        print(f"UNSTABLE {u}", file=sys.stderr)
    return 1 if unstable else 0


if __name__ == "__main__":
    sys.exit(main())
