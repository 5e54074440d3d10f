from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from data_frame_spark.operators import meanmax as MM
from data_frame_spark.operators.annealing import annealing
from data_frame_spark.operators.skew import salted_join
from data_frame_spark.sources.sql import read_sql


def test_lap_swim_expand_doubles_points(spark):
    df = spark.createDataFrame(
        [(30.0, 2.0), (60.0, None), (90.0, 4.0)], ["elapsed", "spd"]
    )
    out = MM.lap_swim_expand(df, "spd", "elapsed")
    rows = sorted((r["elapsed"], r["spd"]) for r in out.collect())
    # each length -> (prev_x, v) and (x, v); NA -> 0
    assert rows == [
        (0.0, 2.0), (30.0, 0.0), (30.0, 2.0), (60.0, 0.0), (60.0, 4.0), (90.0, 4.0),
    ]


def test_lap_swim_mean_max_step_function(spark):
    # constant-speed lengths: mean-max of any duration == the speed
    df = spark.createDataFrame(
        [(float(30 * i), 2.0) for i in range(1, 11)], ["elapsed", "spd"]
    )
    expanded = MM.lap_swim_expand(df, "spd", "elapsed")
    out = MM.mean_max(expanded, "spd", "elapsed", durations=[60, 120])
    for r in out.collect():
        assert r["best_mean"] == pytest.approx(2.0, abs=1e-9)


def test_annealing_minimizes_quadratic():
    rng = random.Random(11)
    best = annealing(
        initial=10.0,
        goal=lambda x: (x - 3.0) ** 2,
        neighbour=lambda x, t: x + rng.uniform(-1, 1) * t * 5,
        iterations=2000,
        rng=rng,
    )
    assert abs(best - 3.0) < 0.1


def test_annealing_restart():
    rng = random.Random(2)
    best = annealing(
        initial=0.0,
        goal=lambda x: abs(x - 1.0),
        neighbour=lambda x, t: x + rng.uniform(-0.5, 0.5),
        iterations=500,
        restart_after=25,
        rng=rng,
    )
    assert abs(best - 1.0) < 0.2


def test_salted_join_matches_plain_join(spark):
    large = spark.createDataFrame(
        [(i % 3, float(i)) for i in range(300)], ["k", "v"]
    )
    small = spark.createDataFrame([(0, "a"), (1, "b"), (2, "c")], ["k", "name"])
    plain = large.join(small, "k").groupBy("name").count()
    salted = salted_join(large, small, "k").groupBy("name").count()
    assert {tuple(r) for r in plain.collect()} == {tuple(r) for r in salted.collect()}


def test_salted_join_left_outer_and_rejects_non_salt_invariant(spark):
    import pytest

    large = spark.createDataFrame(
        [(i % 4, float(i)) for i in range(200)], ["k", "v"]
    )
    # key 3 unmatched on the small side -> left join must keep those
    # large rows exactly once with a null name
    small = spark.createDataFrame([(0, "a"), (1, "b"), (2, "c")], ["k", "name"])
    plain = large.join(small, "k", "left").groupBy("name").count()
    salted = salted_join(large, small, "k", how="left").groupBy("name").count()
    assert {tuple(r) for r in plain.collect()} == {tuple(r) for r in salted.collect()}
    # right/full outer would emit each unmatched small-side row once
    # per salt replica — refused (round-5 judge advice)
    for bad in ("right", "full", "outer", "full_outer", "right_outer"):
        with pytest.raises(ValueError, match="salt-invariant"):
            salted_join(large, small, "k", how=bad)


def test_read_sql_surface(spark, sf_dir):
    from data_frame_spark.session import load_tables

    load_tables(spark, sf_dir)
    out = read_sql(
        spark,
        "SELECT l_returnflag, COUNT(*) AS n FROM lineitem GROUP BY l_returnflag",
    )
    assert out.count() == 3


def test_canonical_pick_prefers_quality_then_min_id(spark):
    import pyspark.sql.functions as F

    from data_frame_spark.operators.dedup import canonical_pick

    rows = [
        (1, "k1", 10), (2, "k1", 30), (3, "k1", 30),   # max order ties: min id wins
        (4, "k2", 5),
    ]
    df = spark.createDataFrame(rows, "id long, k string, q long")
    got = {r["group_key"]: (r["n_dups"], r["canonical_id"], r["canonical_order"])
           for r in canonical_pick(df, F.col("k"), "id", "q").collect()}
    assert got == {"k1": (3, 2, 30), "k2": (1, 4, 5)}


def test_canonical_pick_is_single_aggregate(spark):
    import pyspark.sql.functions as F

    from data_frame_spark.operators.dedup import canonical_pick
    from data_frame_spark.plans import checks as C

    df = spark.createDataFrame([(i, f"k{i%5}", i * 3 % 7) for i in range(100)],
                               "id long, k string, q long")
    out = canonical_pick(df, F.col("k"), "id", "q")
    plan = C.simple_plan(out)
    assert C.count_shuffles(out) == 1 and "partial_" in plan  # map-side combine
    # struct-ordered max_by plans as SortAggregate: per-partition
    # group-key sorts are fine; a Window or a global Sort is not
    assert "Window" not in plan
    assert "Sort [k" in plan or "HashAggregate" in plan  # never Sort [q/global


def test_incremental_dedup_keys_semantics(spark):
    import pyspark.sql.functions as F

    from data_frame_spark.operators.dedup import incremental_dedup_keys

    store = spark.createDataFrame([("fpA",), ("fpB",)], "fingerprint string")
    batch = spark.createDataFrame(
        [(10, "fpA"), (11, "fpC"), (12, "fpC"), (13, "fpD")],
        "id long, f string",
    )
    got = {r["fingerprint"]: (r["keep_id"], r["dup_count"])
           for r in incremental_dedup_keys(batch, store, F.col("f"), "id").collect()}
    # fpA already ingested -> dropped; fpC collapses in-batch to min id
    assert got == {"fpC": (11, 2), "fpD": (13, 1)}


def test_incremental_dedup_store_cycle(spark, tmp_path):
    import pyspark.sql.functions as F

    from data_frame_spark.operators.dedup import incremental_dedup_keys

    path = str(tmp_path / "fp_store")
    day1 = spark.createDataFrame([(1, "x"), (2, "y")], "id long, f string")
    empty_store = spark.createDataFrame([], "fingerprint string")
    new1 = incremental_dedup_keys(day1, empty_store, F.col("f"), "id")
    new1.select("fingerprint").write.mode("overwrite").parquet(path)

    day2 = spark.createDataFrame([(3, "y"), (4, "z")], "id long, f string")
    store = spark.read.parquet(path)
    new2 = incremental_dedup_keys(day2, store, F.col("f"), "id")
    assert {r["fingerprint"] for r in new2.collect()} == {"z"}  # y seen on day 1
    new2.select("fingerprint").write.mode("append").parquet(path)
    assert {r["fingerprint"] for r in spark.read.parquet(path).collect()} == {"x", "y", "z"}


# ---------------------------------------------------------------------------
# rolling n-row stats
# ---------------------------------------------------------------------------


def test_rolling_stats_hand_computed(spark):
    from data_frame_spark.operators.window import rolling_stats

    df = spark.createDataFrame(
        [("u", i, float(v)) for i, v in enumerate([10, 20, 30, 40, 50])],
        "g string, i long, v double",
    )
    rows = sorted(
        rolling_stats(df, "v", ["i"], ["g"], n=3).collect(), key=lambda r: r["i"]
    )
    # trailing 3-row window: mean of [10], [10,20], [10,20,30], [20,30,40], ...
    assert [r["roll_n"] for r in rows] == [1, 2, 3, 3, 3]
    assert [r["roll_mean_micro"] for r in rows] == [
        10_000_000, 15_000_000, 20_000_000, 30_000_000, 40_000_000
    ]
    assert [r["roll_min"] for r in rows] == [10.0, 10.0, 10.0, 20.0, 30.0]
    assert [r["roll_max"] for r in rows] == [10.0, 20.0, 30.0, 40.0, 50.0]


def test_rolling_stats_requires_partitioning(spark):
    import pytest as _pytest

    from data_frame_spark.operators.window import rolling_stats

    df = spark.createDataFrame([(1, 1.0)], "i long, v double")
    with _pytest.raises(ValueError):
        rolling_stats(df, "v", ["i"], [], n=3)


def test_sessionize_gap_semantics(spark):
    from data_frame_spark.operators.window import sessionize
    import pytest

    rows = [
        (1, 0), (1, 100), (1, 2000),        # user 1: gap 1900 > 1000 -> 2 sessions
        (2, 50), (2, 1050), (2, 1100),      # user 2: first gap exactly 1000 (NOT >) -> 1 session
    ]
    df = spark.createDataFrame(rows, "user_id long, ts long")
    got = {
        (r["user_id"], r["ts"]): r["session_seq"]
        for r in sessionize(df, "ts", 1000, partition_by=["user_id"]).collect()
    }
    assert got[(1, 0)] == 1 and got[(1, 100)] == 1 and got[(1, 2000)] == 2
    assert got[(2, 50)] == got[(2, 1050)] == got[(2, 1100)] == 1
    with pytest.raises(ValueError, match="partition_by"):
        sessionize(df, "ts", 1000, partition_by=[])


def test_sessionize_windows_are_partitioned(spark, sf_dir):
    from data_frame_spark.plans import checks as C
    from data_frame_spark.queries import QUERIES

    df = QUERIES["batch_sessions_events"](spark, sf_dir)
    assert C.data_sized_partitionless_windows(df) == []


def test_funnel_steps_sequential_semantics(spark):
    import pytest
    from data_frame_spark.operators.window import funnel_steps

    rows = [
        # user 1: click BEFORE first view must not convert; the one
        # after does; purchase after that click converts
        (1, "click", 5), (1, "view", 10), (1, "click", 20), (1, "purchase", 30),
        # user 2: view only — t2/t3 NULL
        (2, "view", 10), (2, "purchase", 5),
        # user 3: click at exactly the view time (strict >) -> no conversion
        (3, "view", 10), (3, "click", 10),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, tsn long")
    out = funnel_steps(
        df, ["view", "click", "purchase"], "user_id", "event_type", "tsn"
    )
    got = {
        r["user_id"]: (r["t1"], r["t2"], r["t3"])
        for r in out.select("user_id", "t1", "t2", "t3").distinct().collect()
    }
    assert got[1] == (10, 20, 30)
    assert got[2] == (10, None, None)
    assert got[3] == (10, None, None)
    with pytest.raises(ValueError, match="at least one step"):
        funnel_steps(df, [], "user_id", "event_type", "tsn")


def test_funnel_single_entity_exchange(spark, sf_dir):
    # per facet, all three step windows and the per-user collapse
    # must reuse ONE user_id exchange; only the 8-row cohort rollup
    # adds a second — 2 facets ('all' + '7d') x 2 shuffles. Pinned on
    # the pre-union funnel leg of event_funnel_family (the r15 merge
    # of funnel_conversion_events) so the budget stays per-leg.
    from data_frame_spark.queries import event_funnel_leg
    from data_frame_spark.plans import checks as C

    df = event_funnel_leg(spark, sf_dir, "funnel")
    assert C.count_shuffles(df) <= 4
    assert C.data_sized_partitionless_windows(df) == []


def test_blocked_fuzzy_pairs_semantics(spark):
    import pytest
    from data_frame_spark.operators.linkage import blocked_fuzzy_pairs

    rows = [
        (1, "blue bolt", "B1"), (2, "blue bolts", "B1"), (3, "red gear", "B1"),
        (4, "blue bolt", "B2"),  # other block: never pairs with 1/2
    ]
    df = spark.createDataFrame(rows, "id long, name string, blk string")
    out = blocked_fuzzy_pairs(df, "id", "name", ["blk"], max_dist=2).collect()
    got = {(r["id_a"], r["id_b"]): (r["dist"], r["is_match"]) for r in out}
    # only within-block pairs, id_a < id_b; cross-block (1,4) absent
    assert set(got) == {(1, 2), (1, 3), (2, 3)}
    assert got[(1, 2)] == (1, True)
    assert got[(1, 3)][1] is False
    with pytest.raises(ValueError, match="block_cols"):
        blocked_fuzzy_pairs(df, "id", "name", [], max_dist=2)


def test_fuzzy_linkage_shuffle_join_never_broadcast(spark, sf_dir):
    # record linkage joins two corpus-proportional sides: the pair
    # join must be a shuffle hash join on the blocking key even when
    # the planner would otherwise broadcast the (small-at-test-SF)
    # part table, and must stay broadcast-free under the 100 TB
    # planner simulation
    from data_frame_spark.plans import checks as C
    from data_frame_spark.queries import QUERIES

    df = QUERIES["fuzzy_linkage_parts"](spark, sf_dir)
    plan = C.simple_plan(df)
    assert "ShuffledHashJoin" in plan and "BroadcastHashJoin" not in plan
    with C.scale_planner(spark):
        df2 = QUERIES["fuzzy_linkage_parts"](spark, sf_dir)
        assert C.broadcasts_for_query("fuzzy_linkage_parts", df2) == []


def test_retention_single_user_pass(spark, sf_dir):
    # dedup + cohort derivation fold into ONE user-keyed shuffle
    # (map-side partial collect_set, calendar-bounded per-user sets);
    # only the grid rollup and the weeks²-bounded cohort-size window
    # follow
    # pinned on the pre-union retention leg of event_funnel_family
    # (the r15 merge of retention_cohorts_events) so the budget
    # stays per-leg
    from data_frame_spark.queries import event_funnel_leg
    from data_frame_spark.plans import checks as C

    df = event_funnel_leg(spark, sf_dir, "retention")
    assert C.count_shuffles(df) <= 3
    assert C.partitionless_for_query("event_funnel_family", df) == []
    # week-0 cell of every cohort retains 100% by construction
    rows = df.collect()
    assert rows
    for r in rows:
        if r["wk_offset"] == 0:
            assert r["n_users"] == r["cohort_size"]
            assert r["retention_micro"] == 1000000
        assert 0 <= r["retention_micro"] <= 1000000


# ---------------------------------------------------------------------------
# Property: distributed funnel == brute-force sequential fold on
# arbitrary event streams (any per-user event mix, duplicate
# timestamps, types outside the step list).
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings as hyp_settings, strategies as st

_events = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=4),        # user
        st.sampled_from(["view", "click", "purchase", "other"]),
        st.integers(min_value=0, max_value=40),       # ts
    ),
    min_size=1,
    max_size=60,
)


def _brute_funnel(rows, steps, within=None):
    out = {}
    for uid in {r[0] for r in rows}:
        ts = [None] * len(steps)
        for i, s in enumerate(steps):
            lo = ts[i - 1] if i else None
            if i and lo is None:
                break
            cand = [
                tv for (u, et, tv) in rows
                if u == uid and et == s
                and (lo is None or (tv > lo and (within is None or tv <= lo + within)))
            ]
            ts[i] = min(cand) if cand else None
        out[uid] = tuple(ts)
    return out


@given(_events, st.sampled_from([None, 3, 10]))
@hyp_settings(
    max_examples=15,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_funnel_matches_bruteforce(spark, rows, within):
    from data_frame_spark.operators.window import funnel_steps

    steps = ["view", "click", "purchase"]
    df = spark.createDataFrame(rows, "user_id long, event_type string, tsn long")
    got = {
        r["user_id"]: (r["t1"], r["t2"], r["t3"])
        for r in funnel_steps(
            df, steps, "user_id", "event_type", "tsn", within=within
        )
        .select("user_id", "t1", "t2", "t3")
        .distinct()
        .collect()
    }
    assert got == _brute_funnel(rows, steps, within)


def _brute_lev(a, b):
    m, n = len(a), len(b)
    prev = list(range(n + 1))
    for i in range(1, m + 1):
        cur = [i] + [0] * n
        for j in range(1, n + 1):
            cur[j] = min(
                prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (a[i - 1] != b[j - 1])
            )
        prev = cur
    return prev[n]


_recs = st.lists(
    st.tuples(
        st.text(alphabet="abcd ", min_size=0, max_size=6),   # name
        st.integers(min_value=0, max_value=2),               # block
    ),
    min_size=1,
    max_size=12,
)


@given(_recs)
@hyp_settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_blocked_fuzzy_matches_bruteforce(spark, recs):
    from data_frame_spark.operators.linkage import blocked_fuzzy_pairs

    rows = [(i, name, blk) for i, (name, blk) in enumerate(recs)]
    df = spark.createDataFrame(rows, "id long, name string, blk int")
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in blocked_fuzzy_pairs(df, "id", "name", ["blk"]).collect()
    }
    expect = {
        (a[0], b[0]): _brute_lev(a[1], b[1])
        for a in rows
        for b in rows
        if a[0] < b[0] and a[2] == b[2]
    }
    assert got == expect


_visits = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=5),   # user
        st.integers(min_value=0, max_value=6),   # week
    ),
    min_size=1,
    max_size=40,
)


@given(_visits)
@hyp_settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_retention_matrix_matches_bruteforce(spark, visits):
    # same collect_set/array_min/explode/rollup shape as the registry
    # row, pinned against a dict-fold reference on arbitrary streams
    from pyspark.sql import Window
    from collections import Counter

    df = spark.createDataFrame(visits, "user_id long, wk long")
    peruser = df.groupBy("user_id").agg(F.collect_set("wk").alias("wks"))
    c = peruser.select(
        F.array_min("wks").alias("cohort"), F.explode("wks").alias("wk")
    )
    got = {
        (r["cohort"], r["wk_offset"]): r["n"]
        for r in c.groupBy(
            "cohort", (F.col("wk") - F.col("cohort")).alias("wk_offset")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    first = {}
    for u, w in visits:
        first[u] = min(first.get(u, w), w)
    cells = Counter()
    for u, w in set(visits):
        cells[(first[u], w - first[u])] += 1
    assert got == dict(cells)


def _brute_cusum(vals, target):
    s, out = 0, []
    for v in vals:
        s = max(0, s + (v - target))
        out.append(s)
    return out


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),       # key
            st.integers(min_value=-50, max_value=50),    # value micro
        ),
        min_size=1,
        max_size=40,
    )
)
@hyp_settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_cusum_matches_sequential_reference(spark, rows):
    # the windowed closed form (prefix - floored running-min prefix)
    # must equal the sequential recurrence max(0, S + (x - target))
    import pytest

    from data_frame_spark.operators.window import cusum

    rows = [(k, i, v) for i, (k, v) in enumerate(rows)]
    df = spark.createDataFrame(rows, "k long, i long, v long")
    out = cusum(
        df, "v", order_by=["i"], partition_by=["k"],
        target_micro=3, threshold_micro=20,
    )
    got = {(r["k"], r["i"]): (r["cusum_micro"], r["alarm"]) for r in out.collect()}
    for k in {r[0] for r in rows}:
        seq = [(i, v) for kk, i, v in rows if kk == k]
        expect = _brute_cusum([v for _, v in seq], 3)
        for (i, _), s in zip(seq, expect):
            assert got[(k, i)] == (s, s > 20), (k, i)
    with pytest.raises(ValueError, match="partition_by"):
        cusum(df, "v", ["i"], [], target_micro=0)
