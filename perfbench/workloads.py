"""Workload definitions: which registry queries run, on which inputs.

Query names are keys of ``data_frame_spark.queries.QUERIES``. A
workload reads either the committed base tables (``base``) or the
10x replica derived from them by :mod:`inputs` (``x10``). Why each
workload was chosen is recorded in BENCHMARK.json.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    #: ``"base"`` (perfbench/data/sf0.01) or ``"x10"`` (derived replica)
    inputs: str
    #: tables touched during set-up (footer read + first scan)
    tables: tuple[str, ...]
    queries: tuple[str, ...]


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            name="timeseries_sf0.01",
            inputs="base",
            tables=("events", "lineitem", "orders"),
            queries=(
                "fits_family",
                "rdp_simplify_user_series",
                "asof_multi_value_lookup",
                "index_range_select",
                "session_windows_30m",
            ),
        ),
        Workload(
            name="tpch_sf0.01x10",
            inputs="x10",
            tables=("lineitem", "orders", "customer", "part", "documents"),
            queries=(
                "pricing_summary",
                "join_filters_family",
                "format_roundtrip_family",
            ),
        ),
    )
}
