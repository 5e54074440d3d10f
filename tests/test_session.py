"""``session.load_table``'s schema cache and ``session.local_frame``:
query construction starts no Spark job once a table's schema is known,
and driver-side rows plan as a local relation, not an RDD scan."""

from __future__ import annotations

import math
import os
import sys
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_frame_spark import session as S


def _jobs(spark, fn):
    """Run ``fn`` under a fresh job group; return (result, number of
    Spark jobs filed under that group)."""
    sc = spark.sparkContext
    group = f"test-session-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _row_hash(df):
    """(row count, sum of full-row xxhash64) — order-insensitive."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.xxhash64(*df.columns)).alias("h")
    ).collect()[0]
    return row["n"], row["h"]


@pytest.mark.parametrize("name", ["events", "lineitem"])
def test_second_load_starts_no_job(spark, sf_dir, name, monkeypatch):
    monkeypatch.setattr(S, "_SCHEMAS", {})
    path = os.path.join(sf_dir, f"{name}.parquet")

    def load():
        df = S.load_table(spark, sf_dir, name)
        df.schema  # resolving the plan must not start a job either
        return df

    first, first_jobs = _jobs(spark, load)
    cached, cached_jobs = _jobs(spark, load)
    assert first_jobs >= 1  # the inference this cache removes
    assert cached_jobs == 0
    assert cached is not first
    # names, order, types and nullability of the raw scan and of the
    # normalized table
    raw, raw_jobs = _jobs(spark, lambda: S._read_parquet(spark, path).schema)
    assert raw_jobs == 0
    assert raw == spark.read.parquet(path).schema
    assert cached.schema == first.schema
    assert _row_hash(cached) == _row_hash(first)


def test_cached_loads_self_join(spark, sf_dir):
    a = S.load_table(spark, sf_dir, "nation")
    b = S.load_table(spark, sf_dir, "nation")
    joined = a.alias("a").join(
        b.alias("b"), F.col("a.n_regionkey") == F.col("b.n_regionkey")
    )
    assert joined.count() == 5 * 25


def test_rewritten_file_is_reinferred(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int64())}), path)
    assert S.load_table(spark, str(tmp_path), "t").columns == ["a"]
    assert S.load_table(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(
        pa.table({"b": ["x"], "a": pa.array([1.5], pa.float64())}), path
    )
    df = S.load_table(spark, str(tmp_path), "t")
    assert [(f.name, f.dataType) for f in df.schema] == [
        ("b", T.StringType()),
        ("a", T.DoubleType()),
    ]
    assert [tuple(r) for r in df.collect()] == [("x", 1.5)]


def test_concurrent_first_loads_agree(spark, tmp_path):
    # build_parallel threads may race on an empty cache entry: each
    # racer infers and stores the same schema, and no load fails
    pq.write_table(
        pa.table({"k": pa.array([1, 2, 3], pa.int64()), "v": ["a", "b", "c"]}),
        tmp_path / "t.parquet",
    )
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        schemas = S.build_parallel(
            spark,
            *[lambda: S.load_table(spark, str(tmp_path), "t").schema] * 8,
        )
    finally:
        sys.setswitchinterval(old)
    assert len({s.json() for s in schemas}) == 1
    path = os.path.abspath(tmp_path / "t.parquet")
    assert [s for k, s in S._SCHEMAS.items() if k[0] == path] == [schemas[0]]


def test_nanos_events_cached_equals_uncached(spark, tmp_path):
    ns = [1_705_276_800_123_456_789, 1_705_363_200_000_000_001, 86_400_999_999_999]
    table = pa.table(
        {
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(ns, pa.timestamp("ns")),
            "user_id": pa.array([7, 7, 8], pa.int64()),
            "value": pa.array([0.5, None, 2.0], pa.float64()),
        }
    )
    path = tmp_path / "events.parquet"
    pq.write_table(table, path, version="2.6")
    assert pq.read_schema(path).field("ts").type == pa.timestamp("ns")

    cols = ["event_id", "ts_ns", "ts_us", "ts"]
    first = S.load_table(spark, str(tmp_path), "events")
    cached, cached_jobs = _jobs(
        spark, lambda: S.load_table(spark, str(tmp_path), "events")
    )
    assert cached_jobs == 0
    assert first.schema["ts_ns"].dataType == T.LongType()
    assert cached.schema == first.schema
    got = cached.select(cols).orderBy("event_id").collect()
    assert got == first.select(cols).orderBy("event_id").collect()
    assert [r["ts_ns"] for r in got] == ns
    assert [r["ts_us"] for r in got] == [v // 1000 for v in ns]


ROWS = [
    ("nan", float("nan"), None, 1),
    ("null", None, 2.5, None),
    ("inf", float("-inf"), 0.0, 3),
]


@pytest.mark.parametrize(
    "schema",
    [
        "kind string, x double, y double, n bigint",
        T.StructType(
            [
                T.StructField("kind", T.StringType(), False),
                T.StructField("x", T.DoubleType()),
                T.StructField("y", T.DoubleType()),
                T.StructField("n", T.LongType()),
            ]
        ),
    ],
    ids=["ddl", "structtype"],
)
def test_local_frame_matches_create_dataframe(spark, schema):
    got = S.local_frame(spark, ROWS, schema)
    ref = spark.createDataFrame(ROWS, schema)
    assert got.schema == ref.schema
    assert _row_hash(got) == _row_hash(ref)
    rows = {r["kind"]: r for r in got.collect()}
    assert math.isnan(rows["nan"]["x"]) and rows["nan"]["y"] is None
    assert rows["null"]["x"] is None and rows["null"]["n"] is None
    assert got.where(F.isnan("x")).count() == 1
    assert got.where(F.col("x").isNull()).count() == 1


def test_local_frame_plans_as_local_relation(spark):
    got = S.local_frame(spark, ROWS, "kind string, x double, y double, n bigint")
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    ref = spark.createDataFrame(ROWS, "kind string, x double, y double, n bigint")
    assert "ExistingRDD" in ref._jdf.queryExecution().executedPlan().toString()


def test_local_frame_zero_rows(spark):
    got = S.local_frame(spark, [], "kind string, x double")
    assert got.columns == ["kind", "x"]
    assert got.collect() == []
    assert got.crossJoin(spark.range(3)).count() == 0
