"""time_bucket_gapfill: known values, brute-force property, guards."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from data_frame_spark.operators.timeseries import time_bucket_gapfill


def _rows(df):
    return sorted(
        (r["user"], r["bucket"], r["n"], r["mean_micro"], r["filled_micro"])
        for r in df.collect()
    )


def test_gapfill_known_values(spark):
    # user 1: buckets 0 (v=2.0) and 3 (v=4.0) -> grid 0..3
    # user 2: single bucket (degenerate span)
    df = spark.createDataFrame(
        [(1, 5, 2.0), (1, 35, 4.0), (2, 7, 1.5)],
        "user long, ts long, v double",
    )
    locf = _rows(time_bucket_gapfill(df, "ts", "v", 10, ["user"], fill="locf"))
    assert locf == [
        (1, 0, 1, 2_000_000, 2_000_000),
        (1, 1, 0, None, 2_000_000),
        (1, 2, 0, None, 2_000_000),
        (1, 3, 1, 4_000_000, 4_000_000),
        (2, 0, 1, 1_500_000, 1_500_000),
    ]
    lin = _rows(time_bucket_gapfill(df, "ts", "v", 10, ["user"], fill="linear"))
    assert lin == [
        (1, 0, 1, 2_000_000, 2_000_000),
        (1, 1, 0, None, 2_666_666),  # floor(2e6 + 2e6*1/3)
        (1, 2, 0, None, 3_333_333),
        (1, 3, 1, 4_000_000, 4_000_000),
        (2, 0, 1, 1_500_000, 1_500_000),
    ]
    bare = _rows(time_bucket_gapfill(df, "ts", "v", 10, ["user"], fill="null"))
    assert [r[4] for r in bare] == [2_000_000, None, None, 4_000_000, 1_500_000]


def test_gapfill_multi_row_buckets_and_null_values(spark):
    # two rows in one bucket -> exact floor mean; NULL values dropped
    df = spark.createDataFrame(
        [(1, 0, 1.0), (1, 9, 2.0), (1, 25, None), (1, 35, 7.0)],
        "user long, ts long, v double",
    )
    got = _rows(time_bucket_gapfill(df, "ts", "v", 10, ["user"], fill="locf"))
    # bucket 0 mean = (1e6 + 2e6) // 2; bucket 2's NULL row dropped
    assert got == [
        (1, 0, 2, 1_500_000, 1_500_000),
        (1, 1, 0, None, 1_500_000),
        (1, 2, 0, None, 1_500_000),
        (1, 3, 1, 7_000_000, 7_000_000),
    ]


def test_gapfill_negative_values_floor_mean(spark):
    # floor (not truncate-toward-zero) mean on a negative sum —
    # BOTH engines' native integer division truncates (DuckDB
    # (-7)//2 = -3, verified live), so floor is an explicit
    # correction on BOTH sides; this pins the Spark side
    df = spark.createDataFrame(
        [(1, 0, -1.0), (1, 1, -2.0000005), (1, 25, 1.0)],
        "user long, ts long, v double",
    )
    got = _rows(time_bucket_gapfill(df, "ts", "v", 10, ["user"], fill="locf"))
    # vm quantization: floor(-2.0000005*1e6 + 0.5) = -2000000 (exact
    # binary double is just below -2000000.0); sum = -3000000, but an
    # odd sum exercises the floor branch via a third row
    assert got[0][1] == 0 and got[0][2] == 2
    assert got[0][3] == -1_500_000
    # a genuinely odd negative sum floors downward
    df2 = spark.createDataFrame(
        [(1, 0, -1.0), (1, 1, -0.0000015)], "user long, ts long, v double"
    )
    got2 = _rows(time_bucket_gapfill(df2, "ts", "v", 10, ["user"]))
    # sum = -1000001 micro over 2 rows -> floor(-500000.5) = -500001
    assert got2 == [(1, 0, 2, -500_001, -500_001)]


def test_gapfill_negative_timestamps_floor_bucket(spark):
    # ts=-5 with width 10 must land in bucket -1, not share a
    # double-width bucket 0 with ts=+5 (Spark `div` truncates;
    # the operator floor-corrects)
    df = spark.createDataFrame(
        [(1, -5, 2.0), (1, 5, 4.0)], "user long, ts long, v double"
    )
    got = _rows(time_bucket_gapfill(df, "ts", "v", 10, ["user"]))
    assert got == [
        (1, -1, 1, 2_000_000, 2_000_000),
        (1, 0, 1, 4_000_000, 4_000_000),
    ]


def test_gapfill_guards(spark):
    df = spark.createDataFrame([(1, 0, 1.0)], "user long, ts long, v double")
    with pytest.raises(ValueError, match="fill"):
        time_bucket_gapfill(df, "ts", "v", 10, ["user"], fill="spline")
    with pytest.raises(ValueError, match="bucket_width"):
        time_bucket_gapfill(df, "ts", "v", 0, ["user"])
    with pytest.raises(ValueError, match="partition_by"):
        time_bucket_gapfill(df, "ts", "v", 10, [])
    with pytest.raises(ValueError, match="backtick"):
        time_bucket_gapfill(df, "bad`ts", "v", 10, ["user"])


def test_gapfill_dotted_ts_column(spark):
    # r15 ADVICE: ts_col is spliced into a SQL expression string, so
    # a dotted name must be backtick-quoted to resolve as a literal
    # column, not struct-field access
    df = spark.createDataFrame(
        [(1, 0, 1.0), (1, 25, 3.0)], ["user", "ts.raw", "v"]
    )
    out = time_bucket_gapfill(df, "ts.raw", "v", 10, ["user"], fill="locf")
    rows = {r["bucket"]: r["filled_micro"] for r in out.collect()}
    assert rows == {0: 1_000_000, 1: 1_000_000, 2: 3_000_000}


def _brute(rows, width, fill):
    """Single-threaded reference: rows = [(user, ts, v)]."""
    per = {}
    for u, ts, v in rows:
        if v is None or ts is None:
            continue
        vm = math.floor(v * 1_000_000 + 0.5)
        per.setdefault(u, {}).setdefault(ts // width, []).append(vm)
    out = []
    for u, buckets in per.items():
        b0, b1 = min(buckets), max(buckets)
        obs = {
            b: (len(vs), sum(vs) // len(vs)) for b, vs in buckets.items()
        }  # python // floors
        keys = sorted(obs)
        for b in range(b0, b1 + 1):
            n, mean = obs.get(b, (0, None))
            if mean is not None:
                filled = mean
            elif fill == "null":
                filled = None
            elif fill == "locf":
                prevs = [k for k in keys if k < b]
                filled = obs[max(prevs)][1] if prevs else None
            else:  # linear
                prevs = [k for k in keys if k < b]
                nexts = [k for k in keys if k > b]
                if not prevs:
                    filled = obs[min(nexts)][1]
                elif not nexts:
                    filled = obs[max(prevs)][1]
                else:
                    pb, nb = max(prevs), min(nexts)
                    pv, nv = obs[pb][1], obs[nb][1]
                    filled = math.floor(pv + (nv - pv) * (b - pb) / (nb - pb))
            out.append((u, b, n, mean, filled))
    return sorted(out)


def test_gapfill_matches_brute_force(spark):
    rng = random.Random(7)
    rows = []
    for u in range(1, 6):
        for _ in range(rng.randint(1, 40)):
            rows.append(
                (
                    u,
                    rng.randint(-200, 400),  # negative ts: floor bucketing
                    round(rng.uniform(-50, 50), 3) if rng.random() > 0.1 else None,
                )
            )
    df = spark.createDataFrame(rows, "user long, ts long, v double")
    for fill in ("locf", "linear", "null"):
        got = _rows(time_bucket_gapfill(df, "ts", "v", 25, ["user"], fill=fill))
        assert got == _brute(rows, 25, fill), fill


def test_gapfill_plan_is_entity_keyed(spark, sf_dir):
    # the 100 TB contract: no partitionless window anywhere in the
    # fill passes, and nothing broadcastable under the scale planner
    from data_frame_spark.plans import checks as C
    from data_frame_spark.queries import gapfill_daily_value

    df = gapfill_daily_value(spark, sf_dir)
    assert C.data_sized_partitionless_windows(df) == []
    with C.scale_planner(spark):
        df2 = gapfill_daily_value(spark, sf_dir)
        assert C.broadcasts_for_query("gapfill_daily_value", df2) == []


def test_gapfill_oracle_corrections_on_negative_inputs(spark):
    # The oracle twin's floor corrections (sql_floor_div at the
    # bucket and mean sites) are NO-OPS on the registered fixture
    # (positive timestamps/values), so this pins them on a synthetic
    # events table with pre-epoch timestamps and negative values:
    # full Spark-vs-DuckDB parity where the corrections actually fire
    import duckdb

    from data_frame_spark import queries as Q

    rows = [
        # user 1: pre-epoch bucket (ts < 0 -> bucket -1, not 0) and a
        # negative odd-sum bucket (floor mean, not truncation)
        (1, -40_000_000_000, -1.0),
        (1, 20_000_000_000, -1.0),
        (1, 30_000_000_000, -0.0000015),
        (1, 86_400_000_000 * 2 + 5, 3.0),
        # user 2: single negative bucket
        (2, -1, -7.5),
    ]
    sdf = spark.createDataFrame(
        [(u, ts / 1_000_000.0, v) for u, ts, v in rows],
        "user_id long, epoch double, value double",
    ).selectExpr(
        "user_id", "CAST(timestamp_seconds(epoch) AS TIMESTAMP) AS ts",
        "CAST(epoch * 1000000 AS LONG) AS tsn", "value",
    )
    got = sorted(
        tuple(r)
        for r in __import__("data_frame_spark.operators.timeseries",
                            fromlist=["time_bucket_gapfill"])
        .time_bucket_gapfill(
            sdf, "tsn", "value", Q.GAPFILL_BUCKET_US, ["user_id"],
            fill="linear",
        )
        .collect()
    )
    con = duckdb.connect()
    pdf = sdf.select("user_id", "ts", "value").toPandas()
    con.register("events_pd", pdf)
    con.execute("CREATE VIEW events AS SELECT * FROM events_pd")
    # the oracle emits both facets; keep 'linear' to match
    want = sorted(
        tuple(row[1:])
        for row in con.execute(Q.ORACLE["gapfill_daily_value"]).fetchall()
        if row[0] == "linear"
    )
    assert got == want
    # the corrections actually fired: a negative bucket exists, and
    # the negative odd-sum mean floored downward
    assert any(b < 0 for _, b, _, _, _ in got)
    assert (1, 0, 2, -500_001, -500_001) in got
    # the two floor-division twins agree with Python's floor division
    # on negative and positive numerators, exact and inexact quotients
    from data_frame_spark.operators.timeseries import floor_div_expr, sql_floor_div

    for num, den in [(-7, 2), (7, 2), (-6, 2), (0, 3), (-1, 86400)]:
        sq = spark.sql(f"SELECT {floor_div_expr(str(num), str(den))} AS q")
        dq = con.execute(f"SELECT {sql_floor_div(str(num), str(den))}")
        assert sq.first()["q"] == dq.fetchone()[0] == num // den, (num, den)


def test_gapfill_composite_partition_keys(spark):
    # grids and fills stay per-(entity, series): same user, two
    # series names, distinct spans
    df = spark.createDataFrame(
        [(1, "hr", 0, 2.0), (1, "hr", 25, 4.0), (1, "spd", 5, 1.0)],
        "user long, series string, ts long, v double",
    )
    got = sorted(
        (r["user"], r["series"], r["bucket"], r["filled_micro"])
        for r in time_bucket_gapfill(
            df, "ts", "v", 10, ["user", "series"], fill="locf"
        ).collect()
    )
    assert got == [
        (1, "hr", 0, 2_000_000),
        (1, "hr", 1, 2_000_000),
        (1, "hr", 2, 4_000_000),
        (1, "spd", 0, 1_000_000),
    ]
