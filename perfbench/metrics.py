"""Pure parts of the benchmark: query order, result checks and the
metrics a run reports. Nothing here imports Spark, so tests run fast."""

from __future__ import annotations

import math
import random
import statistics


def pass_orders(queries, seed: int, passes: int) -> list[list[str]]:
    """The query order of each timed pass: a fresh shuffle per pass,
    drawn from one generator seeded with ``seed``."""
    rng = random.Random(seed)
    return [rng.sample(list(queries), len(queries)) for _ in range(passes)]


def check_result(expected: dict, name: str, rows: int, digest) -> str | None:
    """Compare one execution's (row count, full-row hash) with the
    recorded values; return a description of the mismatch, or None."""
    want = expected.get(name)
    if want is None:
        return f"{name}: no expected result recorded"
    if rows != want["rows"] or digest != want["hash"]:
        return (
            f"{name}: got rows={rows} hash={digest}, "
            f"expected rows={want['rows']} hash={want['hash']}"
        )
    return None


def geomean(values) -> float:
    values = list(values)
    return math.exp(sum(math.log(v) for v in values) / len(values))


def end_to_end(run: dict) -> dict[str, float]:
    """End-to-end metrics from a worker's run record."""
    per_query = {n: statistics.median(ts) for n, ts in run["query_s"].items()}
    return {
        "setup_s": run["setup_s"],
        "pass_s": statistics.median(run["pass_s"]),
        "query_geomean_s": geomean(per_query.values()),
    }


def fail_ratio(run: dict) -> float:
    return run["failed"] / run["attempted"]


def result_line(run: dict, spec: dict, trace: bool) -> dict:
    """The final JSON object: every metric BENCHMARK.json declares for
    this mode, in its declared unit. A declared per-layer metric the
    run did not reach (a module no query of the workload calls) is 0."""
    if trace:
        values = dict(run["per_layer"])
        values["fail_ratio"] = fail_ratio(run)
        values["peak_rss_mb"] = run["peak_rss_mb"]
        declared = spec["per_layer"]
    else:
        values = end_to_end(run)
        declared = spec["end_to_end"]
    return {
        "correct": run["failed"] == 0,
        "attempted": run["attempted"],
        "failed": run["failed"],
        "metrics": {
            m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in declared
        },
    }
