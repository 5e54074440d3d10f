"""``session.build_parallel``: the one way registry builders run facets
on driver threads — results in argument order, the first failure
raised at once, and every thread's Spark jobs kept in the caller's
job group."""

from __future__ import annotations

import threading
import time

import pytest

from data_frame_spark import queries as Q
from data_frame_spark.session import build_parallel

#: the registry rows whose builders call build_parallel
THREADED_ROWS = (
    "quantiles_price_and_value",
    "histogram_family",
    "fits_family",
    "decontamination_family",
    "graph_suite_family",
)


def _jobs_in_group(spark, group, fn):
    """Run ``fn`` under job group ``group``; return (result, number of
    Spark jobs filed under ``group``, number of jobs started meanwhile
    under no group at all)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    escaped = set(tracker.getJobIdsForGroup(None)) - ungrouped
    return out, len(tracker.getJobIdsForGroup(group)), len(escaped)


def _sequential(spark, *thunks):
    return [thunk() for thunk in thunks]


def test_failure_raises_without_waiting_for_siblings(spark):
    release = threading.Event()

    def slow():
        release.wait(10)

    def fail():
        raise ValueError("facet failed")

    t0 = time.monotonic()
    try:
        with pytest.raises(ValueError, match="facet failed"):
            build_parallel(spark, slow, fail)
        assert time.monotonic() - t0 < 1.0
    finally:
        release.set()


def test_thunk_jobs_land_in_the_callers_job_group(spark):
    thunks = [lambda n=n: spark.range(n).count() for n in (7, 3, 5)]
    got, n_seq, _ = _jobs_in_group(
        spark, "build-parallel-seq", lambda: _sequential(spark, *thunks)
    )
    assert got == [7, 3, 5]
    got, n_par, escaped = _jobs_in_group(
        spark, "build-parallel-par", lambda: build_parallel(spark, *thunks)
    )
    assert got == [7, 3, 5]
    assert n_seq >= len(thunks)
    assert (n_par, escaped) == (n_seq, 0)


@pytest.mark.parametrize("name", THREADED_ROWS)
def test_threaded_row_build_jobs_stay_in_the_callers_group(spark, sf_dir, name):
    # the expected count is what the same build started, not a
    # sequential rerun: graph_suite_family's own job count varies by
    # one between identical sequential builds (lazy-checkpoint timing)
    _, in_group, escaped = _jobs_in_group(
        spark, name, lambda: Q.QUERIES[name](spark, sf_dir)
    )
    assert in_group > 0
    assert escaped == 0
