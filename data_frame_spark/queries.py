"""Query registry — the driver contract surface.

Every implemented operator from SURVEY.md §2 registers here as a
named query (a ``(spark, sf_dir) -> DataFrame`` callable) plus, when
SQL-expressible, a DuckDB oracle SQL twin. ``__spark_entry__.py``
re-exports this registry.

Column names are aliased identically on both sides (the driver's
compare sorts columns by name before hashing). Float aggregates go
through :mod:`data_frame_spark.exact` so distributed and
single-threaded sums hash identically.

Oracle-authoring pitfalls (learned the hard way):

* **DuckDB SUM over integers returns HUGEINT (int128).** The
  driver's pandas canonicalizer coerces HUGEINT to float64, which
  shreds the low bits of values >= 2^53 (the round-2 simhash red
  row: ~2^60 signatures). ANY oracle output column produced by
  SUM/aggregation of integers must end in ``CAST(... AS BIGINT)``
  (or route through VARCHAR, ``exact.sql_dsum`` style). Local
  ``tools/check_oracle.py`` fetches native Python ints and CANNOT
  catch this — check the dtype pandas would see, not just local
  hash equality.
* **String positions are character-based in DuckDB** (substr/ascii
  work on code points); byte-level oracles must index bytes
  explicitly (hex-encode the payload: high nibble of byte i = hex
  digit 2i-1 — see binary_features_family's features leg).
* **Bare decimal literals type as DECIMAL, not DOUBLE** — wrap
  literal arrays in ``CAST([...] AS DOUBLE[])`` when the Spark side
  computes in doubles (see the LSH hyperplanes).

Facet unions: a ``*_family`` row unions its facet legs into one
table whose columns are the superset of the legs' columns. Each leg
selects only the columns it computes, plus ``facet``; the legs are
joined with ``unionByName(other, allowMissingColumns=True)``, which
fills a column a leg lacks with a NULL of the type the other leg
gives it. Columns come out in first-appearance order; where the
oracle orders them otherwise, the row picks its leg order or ends
in one ``select`` of names.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_frame_spark.exact import dsum, davg, sql_dsum, sql_davg
from data_frame_spark.frame import Frame
from data_frame_spark.operators import core as OpCore
from data_frame_spark.sources import csv as CSVSrc
from data_frame_spark.operators import lookup as OpLookup
from data_frame_spark.operators import window as OpWindow
from data_frame_spark.session import build_parallel, load_table as t, local_frame

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    """Register a query (and optionally its oracle SQL twin)."""

    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


def _hexn(col: str, start: int, n: int) -> str:
    """DuckDB integer value of md5 hex digits [start, start+n) —
    generic twin of F.conv(substring(md5, start, n), 16, 10)."""
    return " + ".join(
        f"(CASE WHEN ascii(substr({col}, {start + i}, 1)) >= 97 "
        f"THEN ascii(substr({col}, {start + i}, 1)) - 87 "
        f"ELSE ascii(substr({col}, {start + i}, 1)) - 48 END) "
        f"* CAST({16 ** (n - 1 - i)} AS BIGINT)"
        for i in range(n)
    )


# ---------------------------------------------------------------------------
# Flagship: pricing summary (TPC-H Q1 shape) — filter + groupBy + agg.
# The reference has no group-by; this is the Catalyst-native
# generalization of its whole-frame fold family (SURVEY §2.4,
# df-fold df.rkt:1056-1100) and the driver smoke query.
# ---------------------------------------------------------------------------

@query(
    "pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity')}                                        AS sum_qty,
           {sql_dsum('l_extendedprice')}                                   AS sum_base_price,
           {sql_dsum('l_extendedprice * (1 - l_discount)')}                AS sum_disc_price,
           {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')}  AS sum_charge,
           {sql_davg('l_quantity')}                                        AS avg_qty,
           {sql_davg('l_extendedprice')}                                   AS avg_price,
           {sql_davg('l_discount')}                                        AS avg_disc,
           COUNT(*)                                                        AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# Projection / filter / NA surface (SURVEY §2.1-2.2, §2.4)
# ---------------------------------------------------------------------------

@query(
    "select_filter_project",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity,
           l_extendedprice * (1 - l_discount) AS revenue
    FROM lineitem
    WHERE l_quantity > 45 AND l_returnflag = 'N'
    """,
)
def select_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df-select* analog: project + filter + computed column
    (reference df.rkt:873-884 with #:filter)."""
    li = t(spark, sf_dir, "lineitem")
    return OpCore.select_series(
        li.withColumn("revenue", F.col("l_extendedprice") * (1 - F.col("l_discount"))),
        ["l_orderkey", "l_linenumber", "l_quantity", "revenue"],
        where=(F.col("l_quantity") > 45) & (F.col("l_returnflag") == "N"),
    )


@query(
    "valid_only_drop_na",
    oracle="""
    SELECT event_id, NULLIF(value, 0.0) AS value
    FROM events
    WHERE NULLIF(value, 0.0) IS NOT NULL AND NULLIF(props, '{"k": 1}') IS NOT NULL
    """,
)
def valid_only_drop_na(spark: SparkSession, sf_dir: str) -> DataFrame:
    """valid-only filter (df.rkt:546-552): keep rows where all
    selected series are non-NA."""
    ev = t(spark, sf_dir, "events").select(
        "event_id",
        F.nullif(F.col("value"), F.lit(0.0)).alias("value"),
        F.nullif(F.col("props"), F.lit('{"k": 1}')).alias("props"),
    )
    return OpCore.drop_na(ev).select("event_id", "value")


@query(
    "describe_lineitem",
    oracle=f"""
    WITH s AS (SELECT NULLIF(CAST(l_quantity AS DOUBLE), 25.0) AS q,
                      CAST(l_extendedprice AS DOUBLE) AS p FROM lineitem)
    SELECT 'l_quantity' AS series, COUNT(q) AS count,
           COUNT(CASE WHEN q IS NULL THEN 1 END) AS na_count,
           MIN(q) AS min, MAX(q) AS max,
           ({sql_dsum('q')}) / COUNT(q) AS mean,
           SQRT((({sql_dsum('q*q', 4)}) - ({sql_dsum('q')}) * ({sql_dsum('q')})
                 / COUNT(q)) / (COUNT(q) - 1)) AS stddev
    FROM s
    UNION ALL
    SELECT 'l_extendedprice', COUNT(p),
           COUNT(CASE WHEN p IS NULL THEN 1 END),
           MIN(p), MAX(p),
           ({sql_dsum('p')}) / COUNT(p),
           SQRT((({sql_dsum('p*p', 4)}) - ({sql_dsum('p')}) * ({sql_dsum('p')})
                 / COUNT(p)) / (COUNT(p) - 1))
    FROM s
    """,
)
def describe_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df-describe (private/describe.rkt:29-83) over two numeric
    series. l_quantity is NULL-synthesized (nullif at 25) so the
    na_count column drives the df-count-na semantics (df.rkt:284-299)
    through the driver gate too — the dedicated count_na operator
    stays pytest-covered (tests/test_core.py)."""
    li = t(spark, sf_dir, "lineitem").select(
        F.nullif(F.col("l_quantity").cast("double"), F.lit(25.0)).alias("l_quantity"),
        "l_extendedprice",
    )
    return OpCore.describe(li)


_CSV_FIXTURE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tests", "data", "torture.csv",
)


@query(
    "csv_read_fixture",
    oracle=f"""
    SELECT CAST(id AS DOUBLE) AS id,
           CAST(val AS DOUBLE) AS val,
           val2 AS "val (1)",
           note
    FROM read_csv('{_CSV_FIXTURE}', header=true,
                  names=['id','val','val2','note'],
                  all_varchar=true, null_padding=true)
    """,
)
def csv_read_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df-read/csv (csv.rkt:93-280) driver-verified against DuckDB's
    own CSV reader: duplicate-header dedup ("val" -> "val (1)"),
    empty-cell NA, short-row NULL padding, quoted cells with embedded
    commas and doubled quotes, and uniform numeric inference. The
    whitespace-lexer semantics (whitespace-then-quote cells, mixed
    quoted/unquoted token concatenation) are pytest-proven on the
    reference's sample.csv torture fixture (tests/test_sources.py)."""
    return CSVSrc.read_csv(spark, _CSV_FIXTURE)


# ---------------------------------------------------------------------------
# Ordered semantics: prev-aware map / deltas / row ranges (SURVEY §2.5-2.6)
# ---------------------------------------------------------------------------

@query(
    "event_derived_series",
    oracle="""
    WITH e AS (SELECT event_id, user_id, ts, value, epoch_ns(ts)//1000 AS tus
               FROM events),
         d AS (SELECT e.event_id, e.user_id, e.ts, e.tus, e.value,
                      v.value AS value_delayed
               FROM e ASOF LEFT JOIN events v
                 ON e.user_id = v.user_id AND v.ts >= e.ts + INTERVAL 60 SECOND)
    SELECT event_id, user_id, value,
           value - LAG(value) OVER w AS value_delta,
           (tus - LAG(tus) OVER w) / 1000000.0 AS gap_sec,
           CAST(SUM(CAST(value AS DECIMAL(38,12)))
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum_value,
           value_delayed
    FROM d WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def event_derived_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row derived series over the per-user event stream, one
    query: arity-2 df-map deltas (df.rkt:946-998) on value and on the
    timestamp (inter-event gap), a running fold (cumulative value,
    df.rkt:1056-1100 running path), and time-delay-series
    (scatter.rkt:35-57, value at ts+60s via forward as-of). All four
    windows share one (user_id, ts) sort — one shuffle."""
    from pyspark.sql import Window as W

    ev = t(spark, sf_dir, "events")
    base = OpWindow.delta(
        ev, "value", order_by=["ts_ns", "event_id"], partition_by=["user_id"],
        name="value_delta",
    )
    base = OpWindow.delta(
        base, "ts_us", order_by=["ts_ns", "event_id"], partition_by=["user_id"],
        name="gap_us",
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts_ns", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    base = base.withColumn(
        "cum_value",
        F.sum(F.col("value").cast("decimal(38,12)")).over(w).cast("double"),
    )
    base = OpLookup.time_delay_series(
        base, "value", "ts_ns", 60 * 1_000_000_000, partition_by=["user_id"],
        name="value_delayed",
    )
    return base.select(
        "event_id", "user_id", "value", "value_delta",
        (F.col("gap_us") / 1000000.0).alias("gap_sec"),
        "cum_value", "value_delayed",
    )


# ---------------------------------------------------------------------------
# Lookup / as-of family (SURVEY §2.3)
# ---------------------------------------------------------------------------

@query(
    "interpolated_lookup_value",
    oracle="""
    WITH b AS (SELECT user_id, (epoch_ns(ts)//1000)/1000000.0 AS k, value
               FROM events),
         probes AS (
           SELECT user_id, epoch(TIMESTAMP '2024-01-15 00:00:00') + u.off AS k
           FROM (SELECT DISTINCT user_id FROM events)
           CROSS JOIN (SELECT UNNEST([0.0, 86400.0, 2592000.0]) AS off) u),
         back AS (
           SELECT p.user_id, p.k, b.k AS k0, b.value AS y0
           FROM probes p ASOF LEFT JOIN b ON p.user_id = b.user_id AND p.k >= b.k),
         fwd AS (
           SELECT p.user_id, p.k, b.k AS k1, b.value AS y1
           FROM probes p ASOF LEFT JOIN b ON p.user_id = b.user_id AND p.k < b.k)
    SELECT back.user_id, back.k AS probe_k,
           CASE WHEN back.k0 IS NULL THEN fwd.y1
                WHEN fwd.k1 IS NULL THEN back.y0
                ELSE back.y0 + (back.k - back.k0) / (fwd.k1 - back.k0) * (fwd.y1 - back.y0)
           END AS value
    FROM back JOIN fwd ON back.user_id = fwd.user_id AND back.k = fwd.k
    """,
)
def interpolated_lookup_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df-lookup/interpolated (df.rkt:514-538): per-user linear
    interpolation of `value` at three probe times, clamped at the
    series ends."""
    ev = t(spark, sf_dir, "events")
    base = ev.select(
        "user_id", (F.col("ts_us") / 1000000.0).alias("k"), "value"
    )
    t0 = 1705276800.0  # 2024-01-15 UTC
    offs = [0.0, 86400.0, 2592000.0]
    probes = (
        ev.select("user_id").distinct()
        .crossJoin(local_frame(spark, [(o,) for o in offs], "off double"))
        .select("user_id", (F.lit(t0) + F.col("off")).alias("k"))
    )
    out = OpLookup.interpolated_lookup(
        probes, base, on="k", value_cols=["value"], partition_by=["user_id"]
    )
    return out.select("user_id", F.col("k").alias("probe_k"), "value")


# ---------------------------------------------------------------------------
# Statistics family (SURVEY §2.4, private/statistics.rkt, histogram.rkt)
# ---------------------------------------------------------------------------

from data_frame_spark.operators import stats as OpStats
from data_frame_spark.operators import histogram as OpHist

# floor-quantized sum builder for oracle SQL (twin of exact.dsum);
# delegates so the VARCHAR-mediated integer->double conversion (see
# exact.sql_dsum — DuckDB's direct DECIMAL->DOUBLE cast mis-rounds
# above 2^53) lives in exactly one place
def _fsum(expr: str, scale: int = 6) -> str:
    return sql_dsum(expr, scale)


_W_EVENTS = """
    WITH o AS (SELECT (epoch_ns(ts)//1000)/1000000.0 AS w, value AS v,
                      ts, event_id FROM events),
         d AS (SELECT w - LAG(w) OVER (ORDER BY ts, event_id) AS dx,
                      (LAG(v) OVER (ORDER BY ts, event_id) + v)/2 AS dy
               FROM o)
"""


@query(
    "weighted_stats_value",
    oracle=_W_EVENTS
    + f"""
    SELECT ({_fsum('dx*dy')}) / ({_fsum('dx')}) AS weighted_mean,
           SQRT(({_fsum('dx*dy*dy')}) / ({_fsum('dx')})
                - (({_fsum('dx*dy')}) / ({_fsum('dx')}))
                  * (({_fsum('dx*dy')}) / ({_fsum('dx')}))) AS weighted_stddev,
           ({_fsum('dx')}) AS total_weight
    FROM d WHERE dx IS NOT NULL AND dy IS NOT NULL AND dx > 0
    """,
)
def weighted_stats_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df-statistics with a cumulative weight series
    (statistics.rkt:43-54): trapezoidal time-weighted mean/stddev of
    event value, weight = elapsed seconds."""
    ev = t(spark, sf_dir, "events").withColumn(
        "w", F.col("ts_us") / F.lit(1000000.0)
    )
    return OpStats.weighted_stats(ev, "value", "w", order_by=["ts_ns", "event_id"])


@query(
    "quantiles_price_and_value",
    oracle="""
    WITH p AS (SELECT CAST(UNNEST([0.0, 0.25, 0.5, 0.75, 1.0]) AS DOUBLE) AS p),
         s AS (SELECT CAST(l_extendedprice AS DOUBLE) AS x FROM lineitem
               WHERE l_extendedprice IS NOT NULL),
         r AS (SELECT x, ROW_NUMBER() OVER (ORDER BY x) - 1 AS rn FROM s),
         n AS (SELECT COUNT(*) AS c FROM s),
         o AS (SELECT (epoch_ns(ts)//1000)/1000000.0 AS w, value AS v,
                      ts, event_id FROM events),
         dw AS (SELECT v,
                       COALESCE(w - LAG(w) OVER (ORDER BY ts, event_id), w) AS wd
                FROM o),
         d AS (SELECT CAST(v AS DOUBLE) AS x,
                      CAST(FLOOR(wd * 1000000.0 + 0.5) AS BIGINT) AS wq
               FROM dw WHERE v IS NOT NULL AND wd > 0),
         d2 AS (SELECT x, wq FROM d WHERE wq > 0),
         cum AS (SELECT x, SUM(wq) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS cw
                 FROM d2),
         tot AS (SELECT SUM(wq) AS W FROM d2)
    SELECT p.p, r.x AS quantile, FALSE AS weighted
    FROM p CROSS JOIN n JOIN r
      ON r.rn = GREATEST(CAST(CEIL(p.p * n.c) AS BIGINT) - 1, 0)
    UNION ALL
    SELECT p.p, MIN(cum.x) AS quantile, TRUE AS weighted
    FROM p CROSS JOIN tot JOIN cum ON cum.cw >= p.p * tot.W
    GROUP BY p.p
    """,
)
def quantiles_price_and_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df-quantile, both variants in one oracle row (round-9 merge of
    quantiles_extendedprice + weighted_quantiles_value; the operators
    are unchanged): the unweighted empirical inverse CDF over
    lineitem prices (statistics.rkt:84-118, default 0/.25/.5/.75/1
    fractions) next to the weighted variant over event values, with
    weights = deltas of cumulative elapsed time (first row keeps its
    raw weight). Both run the range-bucketed distributed-exact
    quantile primitives — no global sort or partitionless window.

    The two facet BUILDERS run from two driver threads (r19, guide
    §2.6 — the meanmax/graph-suite family pattern): each performs
    its own driver-side jobs (boundary-sketch collects, the weighted
    facet's lag-pipeline checkpoint), over DIFFERENT tables, and
    serializing them left the cluster idle during each other's
    driver round-trips. The facets are independent subtrees with
    integer-exact results, so construction order cannot affect the
    output."""

    def uq_facet():
        li = t(spark, sf_dir, "lineitem")
        return OpStats.quantiles(li, "l_extendedprice")

    def wq_facet():
        ev = t(spark, sf_dir, "events").withColumn(
            "w", F.col("ts_us") / F.lit(1000000.0)
        )
        return OpStats.weighted_quantiles(
            ev, "value", "w", order_by=["ts_ns", "event_id"]
        )

    uq, wq = build_parallel(spark, uq_facet, wq_facet)
    return uq.withColumn("weighted", F.lit(False)).unionByName(
        wq.withColumn("weighted", F.lit(True))
    )


_TRUNC_Q5 = """CASE WHEN l_quantity/5.0 < 0
                    THEN CAST(-FLOOR(-(l_quantity/5.0)) AS BIGINT)
                    ELSE CAST(FLOOR(l_quantity/5.0) AS BIGINT) END"""


@query(
    "histogram_family",
    oracle=f"""
    SELECT 'numeric' AS facet, CAST(n.bucket AS VARCHAR) AS bucket,
           n.bucket_start, CAST(n.count AS DOUBLE) AS count,
           CAST(NULL AS DOUBLE) AS count_2, n.norm_count, n.pct, n.in_trim
    FROM (
      WITH b AS (SELECT {_TRUNC_Q5} AS bucket, COUNT(*) AS count
                 FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1),
           rng AS (SELECT UNNEST(generate_series((SELECT MIN(bucket) FROM b),
                                                 (SELECT MAX(bucket) FROM b))) AS bucket),
           f AS (SELECT rng.bucket, rng.bucket * 5.0 AS bucket_start,
                        COALESCE(b.count, 0) AS count
                 FROM rng LEFT JOIN b ON rng.bucket = b.bucket),
           k AS (SELECT MIN(bucket) AS lo, MAX(bucket) AS hi FROM f
                 WHERE CAST(count AS DOUBLE) / (SELECT SUM(count) FROM f) > 0.05),
           keep AS (SELECT COALESCE(k.lo, (SELECT MIN(bucket) FROM f)) AS lo,
                           COALESCE(k.hi, (SELECT MAX(bucket) FROM f)) AS hi
                    FROM k)
      SELECT f.bucket, f.bucket_start, f.count,
             CAST(f.count AS DOUBLE) / (SELECT SUM(count) FROM f) AS norm_count,
             CASE WHEN f.bucket BETWEEN keep.lo AND keep.hi
                  THEN f.count * 100.0 / (SELECT SUM(count) FROM f) END AS pct,
             f.bucket BETWEEN keep.lo AND keep.hi AS in_trim
      FROM f CROSS JOIN keep
    ) n
    UNION ALL
    SELECT 'weighted' AS facet, CAST(w.bucket AS VARCHAR) AS bucket,
           w.bucket_start, w.count,
           CAST(NULL AS DOUBLE) AS count_2, CAST(NULL AS DOUBLE) AS norm_count,
           CAST(NULL AS DOUBLE) AS pct, CAST(NULL AS BOOLEAN) AS in_trim
    FROM ({_W_EVENTS}
      , f AS (SELECT dx, dy FROM d
              WHERE dx IS NOT NULL AND dy IS NOT NULL),
      b AS (SELECT CASE WHEN dy/10.0 < 0 THEN CAST(-FLOOR(-(dy/10.0)) AS BIGINT)
                        ELSE CAST(FLOOR(dy/10.0) AS BIGINT) END AS bucket,
                   {_fsum('dx')} AS count
            FROM f GROUP BY 1),
      rng AS (SELECT UNNEST(generate_series((SELECT MIN(bucket) FROM b),
                                            (SELECT MAX(bucket) FROM b))) AS bucket)
      SELECT rng.bucket, rng.bucket * 10.0 AS bucket_start,
             COALESCE(b.count, 0.0) AS count
      FROM rng LEFT JOIN b ON rng.bucket = b.bucket
    ) w
    UNION ALL
    SELECT 'string' AS facet, s.bucket, CAST(NULL AS DOUBLE) AS bucket_start,
           CAST(s.count AS DOUBLE) AS count,
           CAST(NULL AS DOUBLE) AS count_2, CAST(NULL AS DOUBLE) AS norm_count,
           CAST(NULL AS DOUBLE) AS pct, CAST(NULL AS BOOLEAN) AS in_trim
    FROM (
      SELECT event_type AS bucket, COUNT(*) AS count
      FROM events WHERE event_type IS NOT NULL GROUP BY 1
    ) s
    UNION ALL
    SELECT 'combined' AS facet, CAST(c.bucket AS VARCHAR) AS bucket,
           c.bucket_start, CAST(c.count_1 AS DOUBLE) AS count,
           CAST(c.count_2 AS DOUBLE) AS count_2, CAST(NULL AS DOUBLE) AS norm_count,
           CAST(NULL AS DOUBLE) AS pct, CAST(NULL AS BOOLEAN) AS in_trim
    FROM (
      WITH hr0 AS (SELECT {_TRUNC_Q5} AS bucket, COUNT(*) AS count
                   FROM lineitem WHERE l_returnflag = 'R' AND {_TRUNC_Q5} != 0
                   GROUP BY 1),
           hn0 AS (SELECT {_TRUNC_Q5} AS bucket, COUNT(*) AS count
                   FROM lineitem WHERE l_returnflag = 'N' AND {_TRUNC_Q5} != 0
                   GROUP BY 1),
           rr AS (SELECT UNNEST(generate_series((SELECT MIN(bucket) FROM hr0),
                                                (SELECT MAX(bucket) FROM hr0))) AS bucket),
           rn AS (SELECT UNNEST(generate_series((SELECT MIN(bucket) FROM hn0),
                                                (SELECT MAX(bucket) FROM hn0))) AS bucket),
           hr AS (SELECT rr.bucket, COALESCE(hr0.count, 0) AS count
                  FROM rr LEFT JOIN hr0 ON rr.bucket = hr0.bucket),
           hn AS (SELECT rn.bucket, COALESCE(hn0.count, 0) AS count
                  FROM rn LEFT JOIN hn0 ON rn.bucket = hn0.bucket)
      SELECT COALESCE(hr.bucket, hn.bucket) AS bucket,
             COALESCE(hr.bucket, hn.bucket) * 5.0 AS bucket_start,
             COALESCE(hr.count, 0) AS count_1,
             COALESCE(hn.count, 0) AS count_2
      FROM hr FULL OUTER JOIN hn ON hr.bucket = hn.bucket
    ) c
    """,
)
def histogram_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole df-histogram surface in one oracle row (round-9 merge
    of histogram_quantity + weighted_histogram_value +
    string_histogram_event_type + combine_histograms_returnflag; the
    operators are unchanged).

    Facets: 'numeric' = gap-filled counts (histogram.rkt:37-204) +
    normalize-histogram shares (histogram.rkt:302-311) +
    #:as-percentage? with trim-histogram-outliers
    (histogram.rkt:98-155; pct NULL outside the kept [lo,hi] range);
    'weighted' = (Δw, midpoint) samples binned by midpoint, counts are
    Δw sums (histogram.rkt:53-66); 'string' = bucket-by-value
    (histogram.rkt:49-51); 'combined' = combine-histograms
    (histogram.rkt:302-334), two histograms aligned on the merged
    bucket set, zero-filled.

    Numeric buckets ride as strings so all four facets share one
    schema; BIGINT counts ride as doubles (exact below 2^53).

    The four facet BUILDERS run from driver threads (r19, guide
    §2.6 — the quantiles/meanmax pattern): the numeric and combined
    facets each synchronously materialize a lazy checkpoint (the
    gap-filled bucket table / the flag-keyed counts) and the
    weighted facet performs its boundary-collect driver jobs, over
    disjoint relations — serializing them left the cluster idle
    during each other's driver round-trips. The facets are
    independent subtrees with exact integer counts, so construction
    order cannot affect the output."""
    li = t(spark, sf_dir, "lineitem")
    # ONE lineitem bucket aggregate feeds the plain, normalized and
    # trimmed-percentage views (r18, guide §2.3/§2.4: the three views
    # each re-ran the scan+aggregate+gap-fill pipeline — and gap-fill
    # references its input twice, so the plan held SIX lineitem
    # scans for this facet alone). The lazy checkpoint materializes
    # the gap-filled table once; histogram_from_counts re-derives the
    # percentage/trim view from the identical counts (gap-fill is
    # idempotent), so all values are unchanged.
    def numeric_facet():
        h = OpHist.histogram(li, "l_quantity", width=5.0).localCheckpoint(
            eager=False
        )
        nrm = OpHist.normalize_histogram(h).select(
            "bucket", F.col("count").alias("norm_count")
        )
        tp = OpHist.histogram_from_counts(
            h, width=5.0, as_percentage=True, trim_outliers=0.05
        ).select("bucket", F.col("count").alias("pct"))
        # histogram frames are aggregate-sized -> broadcast joins
        return (
            h.join(F.broadcast(nrm), "bucket")
            .join(F.broadcast(tp), "bucket", "left")
            .select(
                F.lit("numeric").alias("facet"),
                F.col("bucket").cast("string").alias("bucket"),
                "bucket_start",
                F.col("count").cast("double").alias("count"),
                "norm_count",
                "pct",
                F.col("pct").isNotNull().alias("in_trim"),
            )
        )

    def weighted_facet():
        ev = t(spark, sf_dir, "events").withColumn(
            "w", F.col("ts_us") / F.lit(1000000.0)
        )
        return OpHist.weighted_histogram(
            ev, "value", "w", order_by=["ts_ns", "event_id"], width=10.0
        ).select(
            F.lit("weighted").alias("facet"),
            F.col("bucket").cast("string").alias("bucket"),
            "bucket_start",
            F.col("count").cast("double").alias("count"),
        )

    def strings_facet():
        ev = t(spark, sf_dir, "events")
        return OpHist.string_histogram(ev, "event_type").select(
            F.lit("string").alias("facet"),
            "bucket",
            F.col("count").cast("double").alias("count"),
        )

    def combined_facet():
        # combined facet: ONE flag-keyed aggregate replaces the two
        # filtered scans (h1/h2 differ only in the l_returnflag
        # value; the shared (flag, bucket) counts split by filter —
        # identical values, half the scans)
        qx = F.col("l_quantity").cast("double")
        _b5 = OpHist._trunc_div(qx, 5.0)
        rf_counts = (
            li.where(qx.isNotNull() & F.col("l_returnflag").isin("R", "N"))
            .where(_b5 != 0)
            .groupBy(F.col("l_returnflag").alias("__rf"), _b5.alias("bucket"))
            .agg(F.count(F.lit(1)).alias("count"))
            .localCheckpoint(eager=False)
        )
        h1 = OpHist.histogram_from_counts(
            rf_counts.where(F.col("__rf") == "R"), width=5.0
        )
        h2 = OpHist.histogram_from_counts(
            rf_counts.where(F.col("__rf") == "N"), width=5.0
        )
        return OpHist.combine_histograms(h1, h2).select(
            F.lit("combined").alias("facet"),
            F.col("bucket").cast("string").alias("bucket"),
            "bucket_start",
            F.col("count_1").cast("double").alias("count"),
            F.col("count_2").cast("double").alias("count_2"),
        )

    numeric, weighted, strings, combined = build_parallel(
        spark, numeric_facet, weighted_facet, strings_facet, combined_facet
    )
    # combined first: count_2 precedes norm_count/pct/in_trim in the
    # oracle's column order
    return (
        combined.unionByName(numeric, allowMissingColumns=True)
        .unionByName(weighted, allowMissingColumns=True)
        .unionByName(strings, allowMissingColumns=True)
    )


# ---------------------------------------------------------------------------
# Join / set-op surface (SURVEY §2.3, §2.7 — absent in reference,
# Catalyst built-ins exposed by our engine)
# ---------------------------------------------------------------------------

from data_frame_spark.operators import joins as OpJoins


@query(
    "regional_revenue",
    oracle=f"""
    SELECT r_name AS region, n_name AS nation,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue,
           COUNT(*) AS line_count
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE o_orderstatus = 'F'
    GROUP BY r_name, n_name
    """,
)
def regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped star join. Broadcast discipline (round-7 fix,
    caught by plans.checks.data_sized_broadcasts): only the
    ATTRIBUTE-DOMAIN dims broadcast — nation (25 rows) and region (5
    rows) are fixed by the TPC-H spec at any SF, so they ship onto
    the customer side map-side. customer itself is SF-proportional
    (15e9 rows at 100 TB) and must NOT carry a broadcast hint: the
    fact-to-customer join is left to Catalyst/AQE, which broadcasts
    it at small SF and key-partitions it on a real cluster."""
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    cust = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region")
    geo = OpJoins.join_small_dim(
        nation, region, on=[F.col("n_regionkey") == F.col("r_regionkey")]
    ).select("n_nationkey", "n_name", "r_name")
    dim = OpJoins.join_small_dim(
        cust, geo, on=[cust.c_nationkey == F.col("n_nationkey")]
    ).select("c_custkey", "n_name", "r_name")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(dim, F.col("o_custkey") == F.col("c_custkey"))
    )
    return (
        joined.groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count(F.lit(1)).alias("line_count"),
        )
    )


@query(
    "join_filters_family",
    oracle="""
    SELECT 'semi' AS facet, CAST(c_custkey AS BIGINT) AS key_id,
           c_name AS name
    FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
    UNION ALL
    SELECT 'anti', CAST(p_partkey AS BIGINT), p_name
    FROM part
    WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem WHERE l_quantity > 48)
    """,
)
def join_filters_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both filtering joins on one row — facets 'semi' (set
    membership: customers with at least one open order) and 'anti'
    (set difference: parts never ordered in quantity > 48). Round-13
    merge of semi_join_customers_with_open_orders +
    anti_join_parts_never_ordered, both driver-green through r11;
    keys cast to BIGINT on both engines so the facet union has one
    key dtype. Each facet is a single equi-join whose filter pushes
    into the probe-side scan; Catalyst/AQE picks broadcast at small
    SF and key-partitions on a real cluster (no code-forced
    broadcasts — df.rkt has no join surface, the reference filters
    row-by-row; SURVEY §2.3)."""
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "O")
    semi = OpJoins.semi_join(
        cust, orders.select(F.col("o_custkey").alias("c_custkey")), on="c_custkey"
    ).select(
        F.lit("semi").alias("facet"),
        F.col("c_custkey").cast("long").alias("key_id"),
        F.col("c_name").alias("name"),
    )
    part = t(spark, sf_dir, "part")
    li = t(spark, sf_dir, "lineitem").where(F.col("l_quantity") > 48)
    anti = OpJoins.anti_join(
        part, li.select(F.col("l_partkey").alias("p_partkey")), on="p_partkey"
    ).select(
        F.lit("anti").alias("facet"),
        F.col("p_partkey").cast("long").alias("key_id"),
        F.col("p_name").alias("name"),
    )
    return semi.unionByName(anti)


@query(
    "dedup_batch_family",
    oracle="""
    WITH fp AS (SELECT doc_id, SUBSTR(text, 1, 40) AS fingerprint
                FROM documents),
         ex AS (SELECT fingerprint, MIN(doc_id) AS keep_id,
                       CAST(COUNT(*) AS BIGINT) AS dup_count
                FROM fp GROUP BY fingerprint HAVING COUNT(*) > 1),
         store AS (SELECT fingerprint FROM fp WHERE doc_id % 3 = 0),
         batch AS (SELECT doc_id, fingerprint FROM fp WHERE doc_id % 3 <> 0),
         canon AS (SELECT fingerprint, MIN(doc_id) AS keep_id,
                          CAST(COUNT(*) AS BIGINT) AS dup_count
                   FROM batch GROUP BY fingerprint),
         inc AS (SELECT c.fingerprint, c.keep_id, c.dup_count
                 FROM canon c LEFT JOIN store s ON c.fingerprint = s.fingerprint
                 WHERE s.fingerprint IS NULL)
    SELECT 'exact' AS facet, fingerprint, keep_id, dup_count FROM ex
    UNION ALL
    SELECT 'incremental', fingerprint, keep_id, dup_count FROM inc
    """,
)
def dedup_batch_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup in both deployment modes on one row — facets
    'exact' and 'incremental' (round-13 merge of exact_dedup_documents
    + incremental_dedup_batch, the batch-update twin pair; both
    driver-green through r11, identical output shape so no NULL
    superset needed):

    - 'exact': whole-corpus exact-duplicate groups keyed on a 40-char
      prefix (the synthetic corpus's collision key) — ONE
      map-combinable hash groupBy; keep_id = canonical row.
    - 'incremental': the nightly-snapshot form — docs with doc_id%3==0
      play the already-ingested store (as its fingerprint table), the
      rest the incoming batch; output = the batch's canonical new
      fingerprints (in-batch dedup minus store hits). The store side
      is only ever STREAMED through a broadcast left-semi probe of the
      batch's fingerprints — never shuffled — so yesterday's 100 TB
      corpus costs one fingerprint-table scan
      (operators/dedup.py:74; broadcast sides are batch-bounded,
      declared in plans/checks.py)."""
    docs = t(spark, sf_dir, "documents")
    fp = F.substring("text", 1, 40)
    exact = (
        docs.groupBy(fp.alias("fingerprint"))
        .agg(F.count(F.lit(1)).alias("dup_count"), F.min("doc_id").alias("keep_id"))
        .where(F.col("dup_count") > 1)
        .select(F.lit("exact").alias("facet"), "fingerprint", "keep_id", "dup_count")
    )
    store = docs.where(F.col("doc_id") % 3 == 0).select(fp.alias("fingerprint"))
    batch = docs.where(F.col("doc_id") % 3 != 0)
    inc = OpDedup.incremental_dedup_keys(batch, store, fp, "doc_id").select(
        F.lit("incremental").alias("facet"), "fingerprint", "keep_id", "dup_count"
    )
    return exact.unionByName(inc)


@query(
    "canonical_docs_by_quality",
    oracle="""
    WITH h AS (SELECT doc_id, n_chars, SUBSTR(text, 1, 40) AS group_key
               FROM documents),
         g AS (SELECT group_key, CAST(COUNT(*) AS BIGINT) AS n_dups,
                      MAX(n_chars) AS canonical_order
               FROM h GROUP BY group_key),
         pick AS (SELECT group_key, doc_id,
                         ROW_NUMBER() OVER (
                           PARTITION BY group_key
                           ORDER BY n_chars DESC, doc_id
                         ) AS rk
                  FROM h)
    SELECT g.group_key, g.n_dups, p.doc_id AS canonical_id,
           g.canonical_order
    FROM g JOIN pick p ON g.group_key = p.group_key AND p.rk = 1
    WHERE g.n_dups >= 2
    """,
)
def canonical_docs_by_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-group canonicalization with a QUALITY policy: among
    each exact-duplicate group (same 40-char prefix, as in
    exact_dedup_documents), keep the longest copy, ties by smallest
    doc_id. One map-combinable groupBy — max_by over a
    lexicographic (n_chars, -doc_id) struct — so no per-group
    window or sort anywhere; the oracle cross-checks with an
    explicit rank formulation."""
    docs = t(spark, sf_dir, "documents")
    out = OpDedup.canonical_pick(
        docs, F.substring("text", 1, 40), "doc_id", "n_chars"
    )
    return out.where(F.col("n_dups") >= 2)


# (incremental_dedup_batch merged into dedup_batch_family above in
# round 13 — the 'incremental' facet; its plan contract stays pinned
# at operator level in test_plans.py.)


@query(
    "top_revenue_orders",
    oracle=f"""
    SELECT o_orderkey, revenue FROM (
      SELECT l_orderkey AS o_orderkey,
             {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
      FROM lineitem GROUP BY l_orderkey)
    ORDER BY revenue DESC, o_orderkey LIMIT 10
    """,
)
def top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """top-k = orderBy + limit (SURVEY §2.6): Spark plans this as
    TakeOrderedAndProject — per-partition heaps, no global sort."""
    li = t(spark, sf_dir, "lineitem")
    per_order = li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
    )
    return per_order.orderBy(F.col("revenue").desc(), F.col("o_orderkey")).limit(10)


# ---------------------------------------------------------------------------
# Least-squares fits / SLR (SURVEY §2.9, least-squares-fit.rkt, slr.rkt)
#
# ONE driver-checked query covers the whole lineitem fit family
# (linear / slr / log / poly2 / poly3 / power): one distributed
# moment aggregate (map-side combinable, exact quantized sums), then
# O(1) coefficient arithmetic. The frozen oracle SQL's Cramer
# determinants were generated from the cofactor-expansion tree of
# _det/_cramer below; the float side must keep that same tree, so
# both engines execute an identical IEEE expression tree — bit-equal
# without rounding.
# Log/power rows stay ROUND(...,6): their moments contain per-row
# LN() whose last ulp may differ between engines.
# ---------------------------------------------------------------------------

from data_frame_spark.operators import fit as OpFit


def _det(m):
    """Determinant by cofactor expansion along the first row. The
    frozen fits oracle SQL was generated from this same tree, so the
    float evaluation here matches the oracle's expression order
    exactly — do not reorder it."""
    n = len(m)
    if n == 1:
        return m[0][0]
    acc = None
    for j in range(n):
        minor = [[row[k] for k in range(n) if k != j] for row in m[1:]]
        term = m[0][j] * _det(minor)
        if acc is None:
            acc = term
        else:
            acc = (acc - term) if j % 2 else (acc + term)
    return acc


def _round6(x: float) -> float:
    """Half-AWAY-FROM-ZERO rounding to 6 decimals — the semantics of
    DuckDB's ROUND. Python's round() is banker's (half-to-even): a
    coefficient landing exactly on a 6th-decimal .5 tie would
    hash-mismatch the oracle (round-9 advisory). Non-finite
    coefficients pass through unchanged, like both round() and
    DuckDB's ROUND (a degenerate fit must emit a comparable NaN row,
    not crash on float->int conversion)."""
    import math

    if not math.isfinite(x):
        return x
    return math.copysign(math.floor(abs(x) * 1e6 + 0.5), x) / 1e6


def _cramer(mom, rhs, degree):
    """Solve the (degree+1)² Vandermonde normal system by Cramer.
    mom[k] = Σx^k (mom[0] = n), rhs[i] = Σx^i·y. Same cofactor tree
    as the frozen oracle SQL (see :func:`_det`)."""
    size = degree + 1
    A = [[mom[i + j] for j in range(size)] for i in range(size)]
    det = _det(A)
    out = []
    for i in range(size):
        Ai = [[rhs[r] if c == i else A[r][c] for c in range(size)] for r in range(size)]
        out.append((_det(Ai), det))
    return out  # list of (numerator, denominator)


# ---------------------------------------------------------------------------
# Mean-max curve (SURVEY §2.4, private/meanmax.rkt — flagship custom op)
# ---------------------------------------------------------------------------

from data_frame_spark.operators import meanmax as OpMM

_MM_DURS = [60, 300, 900, 3600, 14400, 86400]


# ---------------------------------------------------------------------------
# Scatter prep / RDP / spline (SURVEY §2.9, scatter.rkt, rdp-simplify.rkt)
# ---------------------------------------------------------------------------

from data_frame_spark.operators import scatter as OpScatter
from data_frame_spark.operators import rdp as OpRdp
from data_frame_spark.operators import spline as OpSpline


@query(
    "group_samples_value_user",
    oracle="""
    SELECT round_even(CAST(value AS DOUBLE), 0) AS x,
           round_even(CAST(user_id AS DOUBLE), 0) AS y,
           COUNT(*) AS rank
    FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
    GROUP BY 1, 2
    """,
)
def group_samples_value_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """group-samples (scatter.rkt:66-94): rounded (x,y) pairs with
    duplicate counts (plot density ranks)."""
    ev = t(spark, sf_dir, "events")
    return OpScatter.group_samples(ev, "value", "user_id", 0, 0)


@query(
    "group_samples_factor_events",
    oracle="""
    SELECT event_type,
           round_even(CAST(value AS DOUBLE), 0) AS x,
           round_even(CAST(user_id AS DOUBLE), 0) AS y,
           COUNT(*) AS rank
    FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
    GROUP BY 1, 2, 3
    """,
)
def group_samples_factor_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """group-samples/factor (scatter.rkt:102-107): every factor value
    — here the event type — is its own scatter series, so density
    ranks count within (factor, x, y). One map-combinable shuffle
    keyed by the full triple, same plan shape as the unfactored
    query at any scale."""
    ev = t(spark, sf_dir, "events")
    return OpScatter.group_samples(ev, "value", "user_id", 0, 0, by="event_type")


@query(
    "rdp_simplify_user_series",
    oracle="""
    WITH RECURSIVE
    pts AS (SELECT user_id, event_id,
                   (epoch_ns(ts)//1000)/1000000.0 AS x, value AS y,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY (epoch_ns(ts)//1000)) - 1 AS idx
            FROM events),
    nseg AS (SELECT user_id, MAX(idx) AS last FROM pts GROUP BY user_id),
    -- each level splits a segment at its max-perpendicular-distance
    -- point (ties -> first index, mirroring np.argmax) when the
    -- distance exceeds epsilon=5 strictly
    seg(user_id, lo, hi) AS (
        SELECT user_id, 0, last FROM nseg
        UNION ALL
        SELECT s.user_id, u.lo2, u.hi2
        FROM seg s
        JOIN pts a ON a.user_id = s.user_id AND a.idx = s.lo
        JOIN pts b ON b.user_id = s.user_id AND b.idx = s.hi
        CROSS JOIN LATERAL (
            SELECT p.idx AS m,
                   ABS((b.y - a.y) * p.x - (b.x - a.x) * p.y
                       + (b.x * a.y - b.y * a.x))
                     / SQRT((b.x - a.x) * (b.x - a.x)
                            + (b.y - a.y) * (b.y - a.y)) AS dist
            FROM pts p
            WHERE p.user_id = s.user_id AND p.idx > s.lo AND p.idx < s.hi
            ORDER BY dist DESC, p.idx ASC LIMIT 1
        ) mx
        CROSS JOIN LATERAL (VALUES (s.lo, mx.m), (mx.m, s.hi)) AS u(lo2, hi2)
        WHERE s.hi - s.lo > 1 AND mx.dist > 5.0
    ),
    kept AS (SELECT DISTINCT user_id, i FROM (
        SELECT user_id, lo AS i FROM seg
        UNION ALL SELECT user_id, hi FROM seg))
    SELECT p.user_id, p.event_id, p.x, p.y
    FROM kept k JOIN pts p ON p.user_id = k.user_id AND p.idx = k.i
    """,
)
def rdp_simplify_user_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rdp-simplify (rdp-simplify.rkt:70-116): per-user trajectory
    (elapsed_sec, value) simplified at epsilon=5, applyInPandas per
    group. The oracle replays the recursion as a recursive CTE with
    the identical distance expression; numpy's hypot denominator is a
    common positive factor per segment, so comparisons agree unless
    two distances tie within an ulp (never on real-valued data)."""
    ev = t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        (F.col("ts_us") / 1000000.0).alias("x"),
        F.col("value").alias("y"),
    )
    return OpRdp.rdp_simplify(ev, "x", "y", epsilon=5.0, group_by=["user_id"])


_SPLINE_KNOTS = [60.0, 300.0, 900.0, 3600.0, 14400.0]
_SPLINE_PROBES = [90.0, 450.0, 1800.0, 7200.0]


# ---------------------------------------------------------------------------
# Training-data pipeline: dedup / text analysis / similarity
# (north-star extensions, SURVEY §7 Phase 6)
# ---------------------------------------------------------------------------

from data_frame_spark.operators import text as OpText
from data_frame_spark.operators import dedup as OpDedup
from data_frame_spark.operators import graph as OpGraph
from data_frame_spark.operators import sampling as OpSample
from data_frame_spark.operators import sketch as OpSketch
from data_frame_spark.operators import similarity as OpSim

# shared CTE: normalized text, tokens, distinct 3-gram shingles
_SHINGLES = r"""
    WITH norm AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
                  FROM documents),
         toks AS (SELECT doc_id, string_split(t, ' ') AS tk FROM norm),
         sh AS (SELECT doc_id,
                       CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                            ELSE list_transform(generate_series(1, len(tk)-2),
                                                i -> array_to_string(tk[i:i+2], ' '))
                       END AS shingles
                FROM toks),
         ex AS (SELECT doc_id, UNNEST(list_distinct(shingles)) AS s FROM sh)
"""

_NHASH, _BANDS = 8, 4

# DuckDB twin of texthash.hash60: 15-hex-digit positional sum of md5
_H60 = " + ".join(
    "CAST(CASE WHEN ascii(substr(md5(s), {i}, 1)) >= 97 "
    "THEN ascii(substr(md5(s), {i}, 1)) - 87 "
    "ELSE ascii(substr(md5(s), {i}, 1)) - 48 END AS BIGINT) * {w}".format(i=i, w=16 ** (15 - i))
    for i in range(1, 16)
)
from data_frame_spark.operators.dedup import MINHASH_P, minhash_params

_MH_MIN = ", ".join(
    "MIN(({a} * hq + {b}) % {p}) AS mh_{k}".format(
        a=minhash_params(k)[0], b=minhash_params(k)[1], p=MINHASH_P, k=k
    )
    for k in range(_NHASH)
)
# extend the shingle CTE with the integer hash
_SHINGLES = _SHINGLES + f"""
    , exh AS (SELECT doc_id, ({_H60}) % {MINHASH_P} AS hq FROM ex)
"""


@query(
    "minhash_signatures_docs",
    oracle=_SHINGLES + f"""
    SELECT doc_id, {_MH_MIN} FROM exh GROUP BY doc_id
    """,
)
def minhash_signatures_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures: one md5 per shingle -> K affine integer
    rehashes, min per document (one explode + one groupBy shuffle)."""
    docs = t(spark, sf_dir, "documents")
    return OpDedup.minhash_signatures(docs, "text", "doc_id", num_hashes=_NHASH)


_BAND_UNION = " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band, md5(CONCAT_WS('|', "
    + ", ".join(f"mh_{b * (_NHASH // _BANDS) + i}" for i in range(_NHASH // _BANDS))
    + ")) AS key FROM sigs"
    for b in range(_BANDS)
)


@query(
    "ngram_jaccard_verified",
    oracle=_SHINGLES + f"""
    , sigs AS (SELECT doc_id, {_MH_MIN} FROM exh GROUP BY doc_id),
    bands AS ({_BAND_UNION}),
    pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
              WHERE a.doc_id < b.doc_id),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY doc_id),
    inter AS (SELECT p.id_a, p.id_b, COUNT(*) AS i
              FROM pairs p
              JOIN ex ea ON p.id_a = ea.doc_id
              JOIN ex eb ON p.id_b = eb.doc_id AND ea.s = eb.s
              GROUP BY p.id_a, p.id_b)
    SELECT p.id_a, p.id_b,
           CAST(COALESCE(inter.i, 0) AS DOUBLE)
             / (na.n + nb.n - COALESCE(inter.i, 0)) AS jaccard
    FROM pairs p
    LEFT JOIN inter ON p.id_a = inter.id_a AND p.id_b = inter.id_b
    JOIN sizes na ON p.id_a = na.doc_id
    JOIN sizes nb ON p.id_b = nb.doc_id
    """,
)
def ngram_jaccard_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle-Jaccard verification of the LSH candidates —
    the verify stage of near-dedup (runs only on candidate pairs):
    shingle table -> minhash -> LSH pairs -> (id_a, id_b, jaccard).
    :func:`near_dup_clusters_docs` clusters its output."""
    from data_frame_spark.operators.text import shingle_rows

    docs = t(spark, sf_dir, "documents")
    # ONE tokenize+md5 pass over the corpus: the checkpointed
    # distinct shingle table feeds both the minhash signatures and
    # the exact Jaccard verify; MIN over the distinct set equals MIN
    # over the multiset, so signatures are unchanged
    sh = shingle_rows(docs, "text", "doc_id").distinct().localCheckpoint(eager=False)
    sigs = OpDedup.minhash_signatures(
        docs, "text", "doc_id", num_hashes=_NHASH, shingles=sh
    )
    pairs = OpDedup.lsh_candidate_pairs(sigs, "doc_id", _NHASH, _BANDS)
    # the candidate-pair table feeds two plan branches (the intersect
    # join and the final pair join) and itself carries the whole
    # minhash+banding pipeline — materialize it once, like the
    # shingle table (lazy: the first consumer's job materializes it;
    # localCheckpoint blocks are ContextCleaner-reclaimed, so no
    # session-lifetime cache leak)
    pairs = pairs.localCheckpoint(eager=False)
    return OpDedup.ngram_jaccard(docs, pairs, "text", "doc_id", shingles=sh)


# the Jaccard chain as a reusable CTE tail (same SQL as the verified
# query, minus the top-level SELECT) for oracles that consume pairs
_JACCARD_CTES = f"""
    , sigs AS (SELECT doc_id, {_MH_MIN} FROM exh GROUP BY doc_id),
    bands AS ({_BAND_UNION}),
    pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
              WHERE a.doc_id < b.doc_id),
    psizes AS (SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY doc_id),
    pinter AS (SELECT p.id_a, p.id_b, COUNT(*) AS i
               FROM pairs p
               JOIN ex ea ON p.id_a = ea.doc_id
               JOIN ex eb ON p.id_b = eb.doc_id AND ea.s = eb.s
               GROUP BY p.id_a, p.id_b),
    jac AS (SELECT p.id_a, p.id_b,
                   CAST(COALESCE(pinter.i, 0) AS DOUBLE)
                     / (na.n + nb.n - COALESCE(pinter.i, 0)) AS jaccard
            FROM pairs p
            LEFT JOIN pinter ON p.id_a = pinter.id_a AND p.id_b = pinter.id_b
            JOIN psizes na ON p.id_a = na.doc_id
            JOIN psizes nb ON p.id_b = nb.doc_id)
"""


@query(
    "near_dup_clusters_docs",
    oracle=_SHINGLES.replace("WITH ", "WITH RECURSIVE ", 1) + _JACCARD_CTES + """
    , edges AS (SELECT id_a AS u, id_b AS v FROM jac WHERE jaccard >= 0.8
                UNION ALL
                SELECT id_b AS u, id_a AS v FROM jac WHERE jaccard >= 0.8),
    reach(id, r) AS (SELECT u, u FROM edges
                     UNION
                     SELECT e.u, reach.r FROM edges e JOIN reach ON reach.id = e.v),
    comp AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
    csize AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM comp GROUP BY 1)
    SELECT comp.id AS doc_id, comp.cluster_id, csize.cluster_size
    FROM comp JOIN csize USING (cluster_id)
    """,
)
def near_dup_clusters_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The terminal stage of corpus dedup: collapse Jaccard-verified
    near-dup pairs into clusters via distributed connected components
    (alternating large/small-star, O(log n) rounds — net-new vs the
    reference, whose dedup surface stops at pairwise set operations).
    Output: (doc_id, cluster_id = min doc id of the component,
    cluster_size); a dedup keeps rows where doc_id == cluster_id.
    The DuckDB twin closes the same edge set with a recursive
    min-reachability CTE."""
    verified = ngram_jaccard_verified(spark, sf_dir).where(F.col("jaccard") >= F.lit(0.8))
    return OpGraph.cluster_documents(verified).withColumnRenamed("id", "doc_id")


@query(
    "stratified_sample_docs",
    oracle="""
    WITH strat AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR) || '|'), doc_id
             ) AS sample_rank
      FROM documents),
    uni AS (
      SELECT doc_id, lang
      FROM documents
      ORDER BY md5(CAST(doc_id AS VARCHAR) || '|u'), doc_id
      LIMIT 10)
    SELECT 'stratified' AS mode, doc_id, lang, CAST(sample_rank AS BIGINT) AS sample_rank
    FROM strat WHERE sample_rank <= 5
    UNION ALL
    SELECT 'uniform' AS mode, doc_id, lang, CAST(NULL AS BIGINT) AS sample_rank
    FROM uni
    """,
)
def stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus sampling, both flavors in one result:
    exactly 5 docs per language by md5-hash rank (reproducible
    regardless of partitioning/cluster layout — never rand()), plus
    a 10-doc global uniform sample drawn with an independent salt
    (plans as TakeOrderedAndProject: per-partition top-k, no global
    sort)."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "lang")
    strat = OpSample.stratified_sample(docs, "lang", "doc_id", 5).select(
        F.lit("stratified").alias("mode"),
        "doc_id",
        "lang",
        F.col("sample_rank").cast("long").alias("sample_rank"),
    )
    uni = OpSample.uniform_sample(docs, "doc_id", 10, salt="u").select(
        F.lit("uniform").alias("mode"), "doc_id", "lang"
    )
    return strat.unionByName(uni, allowMissingColumns=True)


@query(
    "weighted_sample_docs",
    oracle="""
    WITH h AS (
      SELECT doc_id, source, n_chars,
             md5(CAST(doc_id AS VARCHAR) || '|w') AS hh
      FROM documents
      WHERE n_chars IS NOT NULL AND n_chars > 0),
    keyed AS (
      SELECT doc_id, source, n_chars,
             -ln((({HEX15}) + 1) / 1152921504606846976.0)
               / CAST(n_chars AS DOUBLE) AS k
      FROM h)
    SELECT doc_id, source, n_chars
    FROM keyed ORDER BY k, doc_id LIMIT 40
    """.replace("{HEX15}", _hexn("hh", 1, 15)),
)
def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted deterministic sample: 40 docs drawn without
    replacement with probability proportional to n_chars, by the
    Efraimidis-Spirakis one-pass key -ln(u)/w with u md5-derived —
    reproducible at any partitioning and replayed exactly by the
    oracle. Plans as TakeOrderedAndProject: the per-partition
    partial top-k IS the A-ES reservoir, so no shuffle and no
    global sort at any corpus size."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return OpSample.weighted_sample(docs, "doc_id", "n_chars", 40, salt="w")


def _bm25_sql_part(i: int) -> str:
    """One query-term's quantized BM25 contribution — the exact
    arithmetic-order twin of retrieval.bm25_rank's ``part``."""
    return (
        f"CAST(FLOOR("
        f"ln(CAST(1.0 AS DOUBLE) + (CAST(n - df{i} AS DOUBLE) + CAST(0.5 AS DOUBLE))"
        f" / (CAST(df{i} AS DOUBLE) + CAST(0.5 AS DOUBLE)))"
        f" * CAST(tf{i} AS DOUBLE) * CAST(2.2 AS DOUBLE)"
        f" / (CAST(tf{i} AS DOUBLE) + CAST(1.2 AS DOUBLE) *"
        f" (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE) / avgdl))"
        f" * CAST(1000000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"
    )


@query(
    "bm25_search_docs",
    oracle=r"""
    WITH norm AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
                  FROM documents),
         tok AS (SELECT doc_id, UNNEST(string_split(t, ' ')) AS term FROM norm),
         perdoc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl,
                           SUM(CASE WHEN term = 'hash'   THEN 1 ELSE 0 END) AS tf0,
                           SUM(CASE WHEN term = 'spark'  THEN 1 ELSE 0 END) AS tf1,
                           SUM(CASE WHEN term = 'window' THEN 1 ELSE 0 END) AS tf2
                    FROM tok GROUP BY doc_id),
         stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, AVG(dl) AS avgdl,
                          SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
                          SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
                          SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
                   FROM perdoc),
         scored AS (SELECT doc_id,
                           ({P0}) + ({P1}) + ({P2}) AS bm25_micro,
                           GREATEST(tf0, tf1, tf2) AS mx
                    FROM perdoc CROSS JOIN stats)
    SELECT doc_id, bm25_micro,
           CAST(bm25_micro AS DOUBLE) / CAST(1000000.0 AS DOUBLE) AS bm25
    FROM scored WHERE mx > 0
    ORDER BY bm25_micro DESC, doc_id LIMIT 15
    """.replace("{P0}", _bm25_sql_part(0))
       .replace("{P1}", _bm25_sql_part(1))
       .replace("{P2}", _bm25_sql_part(2)),
)
def bm25_search_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval for the query {hash, spark, window}:
    top-15 docs with the exact integer micro-unit score as the
    ranking key (quantize-then-sum, so the total is summation-order
    independent and the oracle reproduces the ranking bit for bit).
    One map-combinable corpus shuffle (per-doc length + every tf as
    conditional aggregates), one broadcast stats row, narrow
    scoring, TakeOrderedAndProject top-k."""
    from data_frame_spark.operators import retrieval as OpRetrieval

    docs = t(spark, sf_dir, "documents")
    return OpRetrieval.bm25_rank(
        docs, "text", "doc_id", ["hash", "spark", "window"], top_k=15
    )


# shared CTE chain: corpus-trained add-one unigram LM -> per-doc
# micro-nat NLL totals (used by the LM-scoring query and the
# curriculum bucketing built on top of it)
_LM_CTE = r"""
    WITH norm AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
                  FROM documents),
         tok AS (SELECT doc_id, UNNEST(string_split(t, ' ')) AS term FROM norm),
         cnt AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY term),
         tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cnt),
         vocab AS (SELECT term, c FROM cnt ORDER BY c DESC, term LIMIT 10000),
         vs AS (SELECT CAST(SUM(c) AS BIGINT) AS vc, CAST(COUNT(*) AS BIGINT) AS v
                FROM vocab),
         params AS (SELECT n + v + 1 AS denom, n - vc AS cunk
                    FROM tot CROSS JOIN vs),
         lm AS (SELECT term,
                       CAST(FLOOR(-ln(CAST(c + 1 AS DOUBLE) / CAST(denom AS DOUBLE))
                                  * CAST(1000000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE))
                            AS BIGINT) AS nll
                FROM vocab CROSS JOIN params),
         unk AS (SELECT CAST(FLOOR(-ln(CAST(cunk + 1 AS DOUBLE) / CAST(denom AS DOUBLE))
                                   * CAST(1000000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE))
                             AS BIGINT) AS unll
                 FROM params),
         per AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
                        CAST(SUM(COALESCE(lm.nll, unk.unll)) AS BIGINT) AS nll_micro
                 FROM tok LEFT JOIN lm ON tok.term = lm.term CROSS JOIN unk
                 GROUP BY doc_id)
"""


@query(
    "lm_nll_docs",
    oracle=_LM_CTE
    + """
    , bnorm AS (SELECT doc_id, string_split(t, ' ') AS tk FROM norm),
      p0 AS (SELECT doc_id,
                    CASE WHEN i = 1 THEN '<s>' ELSE tk[i-1] END AS prev_raw,
                    tk[i] AS cur_raw
             FROM bnorm, UNNEST(generate_series(1, len(tk))) AS u(i)),
      m AS (SELECT doc_id,
                   CASE WHEN prev_raw = '<s>' THEN '<s>'
                        WHEN prev_raw IN (SELECT term FROM vocab) THEN prev_raw
                        ELSE '<unk>' END AS prev,
                   CASE WHEN cur_raw IN (SELECT term FROM vocab) THEN cur_raw
                        ELSE '<unk>' END AS cur
            FROM p0),
      bg AS (SELECT prev, cur, CAST(COUNT(*) AS BIGINT) AS cb
             FROM m GROUP BY prev, cur),
      ctx AS (SELECT prev, CAST(SUM(cb) AS BIGINT) AS cc FROM bg GROUP BY prev),
      sc AS (SELECT doc_id,
                    CAST(FLOOR(-ln(CAST(COALESCE(cb, 0) + 1 AS DOUBLE)
                                   / CAST(cc + v + 1 AS DOUBLE))
                               * CAST(1000000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE))
                         AS BIGINT) AS tt
             FROM m LEFT JOIN bg USING (prev, cur)
                    JOIN ctx USING (prev) CROSS JOIN vs),
      bper AS (SELECT doc_id, CAST(SUM(tt) AS BIGINT) AS bi_nll_micro,
                      CAST(SUM(tt) // COUNT(*) AS BIGINT) AS bi_avg_nll_micro
               FROM sc GROUP BY doc_id)
    SELECT per.doc_id, per.n_tokens,
           per.nll_micro AS uni_nll_micro,
           CAST(per.nll_micro // per.n_tokens AS BIGINT) AS uni_avg_nll_micro,
           bper.bi_nll_micro, bper.bi_avg_nll_micro
    FROM per JOIN bper USING (doc_id)
    """,
)
def lm_nll_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document NLL under BOTH corpus-trained add-one LMs in one
    oracle row (round-9 merge of unigram_lm_nll_docs +
    bigram_lm_nll_docs; the operators are unchanged): the CCNet-style
    unigram perplexity signal (top-10k vocab + single unk type) next
    to the context-aware bigram signal (map-side indexed-array pairs,
    '<s>' start symbol, vocab mapping by broadcast join). Per-token
    NLLs quantize to integer micro-nats BEFORE summing on both
    engines, so every total is exact. The facet join keys on doc_id —
    both sides arrive already aggregated by doc_id, so the join
    distributes at any corpus size (no broadcast of a corpus-sized
    side). The shared oracle CTE reuses one vocabulary (identical
    top-k definition in both models) — and since r19 the Spark side
    mirrors that (guide §2.3): the corpus-wide term-count pass is
    built ONCE (operators/text.term_counts, lazily localCheckpoint'd)
    and shared by both LMs via their ``term_counts`` parameter, so
    the explode+count shuffle runs once instead of per model. Both
    vocabularies derive from the same relation, so nothing changes
    in either facet's rows."""
    docs = t(spark, sf_dir, "documents")
    tc = OpText.term_counts(docs, "text").localCheckpoint(eager=False)
    uni = OpText.unigram_lm_nll(docs, "text", "doc_id", vocab_size=10000,
                                term_counts=tc)
    bi = OpText.bigram_lm_nll(docs, "text", "doc_id", vocab_size=10000,
                              term_counts=tc)
    return uni.select(
        "doc_id",
        "n_tokens",
        F.col("nll_micro").alias("uni_nll_micro"),
        F.col("avg_nll_micro").alias("uni_avg_nll_micro"),
    ).join(
        bi.select(
            "doc_id",
            F.col("nll_micro").alias("bi_nll_micro"),
            F.col("avg_nll_micro").alias("bi_avg_nll_micro"),
        ),
        "doc_id",
    )


@query(
    "curriculum_buckets_docs",
    oracle=_LM_CTE
    + """
    , scored AS (SELECT doc_id, CAST(nll_micro // n_tokens AS BIGINT) AS avg_nll_micro
                 FROM per),
      ranked AS (SELECT avg_nll_micro AS v,
                        ROW_NUMBER() OVER (ORDER BY avg_nll_micro) AS rn
                 FROM scored),
      nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM scored),
      thr AS (SELECT
                MAX(CASE WHEN rn = GREATEST(CAST(CEIL(0.25 * n) AS BIGINT), 1)
                         THEN CAST(v AS DOUBLE) END) AS t0,
                MAX(CASE WHEN rn = GREATEST(CAST(CEIL(0.5 * n) AS BIGINT), 1)
                         THEN CAST(v AS DOUBLE) END) AS t1,
                MAX(CASE WHEN rn = GREATEST(CAST(CEIL(0.75 * n) AS BIGINT), 1)
                         THEN CAST(v AS DOUBLE) END) AS t2
              FROM ranked CROSS JOIN nn)
    SELECT doc_id, avg_nll_micro,
           CAST(CASE WHEN CAST(avg_nll_micro AS DOUBLE) <= t0 THEN 1
                     WHEN CAST(avg_nll_micro AS DOUBLE) <= t1 THEN 2
                     WHEN CAST(avg_nll_micro AS DOUBLE) <= t2 THEN 3
                     ELSE 4 END AS INTEGER) AS curriculum_bucket
    FROM scored CROSS JOIN thr
    """,
)
def curriculum_buckets_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering by LM perplexity: every doc assigned an
    exact-quartile bucket of its average unigram NLL (1 = most
    predictable quarter -> train first; 4 = hardest). Thresholds
    come from the range-bucketed exact quantile primitive (no
    global NTILE window anywhere) and broadcast onto the corpus as
    one row; bucket assignment is a narrow CASE. Composes two
    oracle-checked operators: text.unigram_lm_nll ->
    stats.quantile_buckets."""
    from data_frame_spark.operators import stats as OpStatsMod

    docs = t(spark, sf_dir, "documents")
    # materialize the doc-level scores once: both the quantile pass
    # and the bucket assignment read them, and without this the whole
    # LM pipeline (2 corpus scans + 2 shuffles) runs twice
    lm = (
        OpText.unigram_lm_nll(docs, "text", "doc_id", vocab_size=10000)
        .select("doc_id", "avg_nll_micro")
        .localCheckpoint(eager=False)
    )
    out = OpStatsMod.quantile_buckets(
        lm, "avg_nll_micro", (0.25, 0.5, 0.75), out_col="curriculum_bucket"
    )
    return out.select("doc_id", "avg_nll_micro", "curriculum_bucket")


@query(
    "pmi_collocations_docs",
    oracle=r"""
    WITH norm AS (SELECT trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
                  FROM documents),
         toks AS (SELECT string_split(t, ' ') AS tk FROM norm),
         bg0 AS (SELECT CASE WHEN len(tk) < 2 THEN [array_to_string(tk, ' ')]
                             ELSE list_transform(generate_series(1, len(tk)-1),
                                                 i -> array_to_string(tk[i:i+1], ' '))
                        END AS bgs
                 FROM toks),
         bgf AS (SELECT bg FROM (SELECT UNNEST(bgs) AS bg FROM bg0)
                 WHERE len(string_split(bg, ' ')) = 2),
         bigc AS (SELECT string_split(bg, ' ')[1] AS w1,
                         string_split(bg, ' ')[2] AS w2,
                         CAST(COUNT(*) AS BIGINT) AS c_xy
                  FROM bgf GROUP BY 1, 2 HAVING COUNT(*) >= 5),
         uni AS (SELECT term AS w, CAST(COUNT(*) AS BIGINT) AS c
                 FROM (SELECT UNNEST(tk) AS term FROM toks) GROUP BY term),
         nbt AS (SELECT CAST(COUNT(*) AS BIGINT) AS nb FROM bgf),
         nut AS (SELECT CAST(SUM(c) AS BIGINT) AS nu FROM uni),
         j AS (SELECT w1, w2, c_xy, u1.c AS c_x, u2.c AS c_y, nb, nu
               FROM bigc JOIN uni u1 ON w1 = u1.w JOIN uni u2 ON w2 = u2.w
               CROSS JOIN nbt CROSS JOIN nut)
    SELECT w1, w2, c_xy AS pair_count,
           CAST(FLOOR(ln((CAST(c_xy AS DOUBLE) / CAST(nb AS DOUBLE))
                         / ((CAST(c_x AS DOUBLE) / CAST(nu AS DOUBLE))
                            * (CAST(c_y AS DOUBLE) / CAST(nu AS DOUBLE))))
                      * CAST(1000000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE))
                AS BIGINT) AS pmi_micro
    FROM j ORDER BY pmi_micro DESC, w1, w2 LIMIT 20
    """,
)
def pmi_collocations_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 collocations by pointwise mutual information (pairs
    with >= 5 occurrences): micro-nat-quantized PMI so values and
    ranking are engine-exact. One map-combinable corpus shuffle per
    count table (both checkpointed once), PMI over the vocab-sized
    aggregates, TakeOrderedAndProject top-k."""
    from data_frame_spark.operators.distributed import ensure_parallelism

    docs = ensure_parallelism(t(spark, sf_dir, "documents"))
    return OpText.collocations(docs, "text", min_count=5, top_k=20)


def _zipf_sql() -> str:
    b = "(((n * slxly) - (slx * sly)) / ((n * slx2) - (slx * slx)))"
    a = f"EXP((sly - ({b} * slx)) / n)"
    return rf"""
    WITH norm AS (SELECT trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
                  FROM documents),
         tok AS (SELECT UNNEST(string_split(t, ' ')) AS term FROM norm),
         cnt AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY term),
         r AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY c DESC, term) AS DOUBLE) AS x,
                      CAST(c AS DOUBLE) AS y
               FROM cnt),
         m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                      {_fsum('ln(x) * ln(y)')} AS slxly,
                      {_fsum('ln(x)')} AS slx,
                      {_fsum('ln(y)')} AS sly,
                      {_fsum('ln(x) * ln(x)')} AS slx2
               FROM r)
    SELECT ROUND({a}, 6) AS a, ROUND({b}, 6) AS zipf_exponent FROM m
    """


@query("zipf_fit_tokens", oracle=_zipf_sql())
def zipf_fit_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf power-law fit of the token rank-frequency curve
    (count ~ a * rank^b): the corpus-health check that a natural
    corpus shows b near -1 and synthetic/templated text shows a
    flat head. Composes the distributed token count (one
    map-combinable shuffle) with the reference-parity power fit
    (least-squares-fit.rkt:156-196) and its scale-6-quantized exact
    moment sums.

    The rank is a GLOBAL row_number over a web-scale vocabulary
    (hundreds of millions of token types at 100 TB — data-dependent,
    NOT aggregate-bounded), so it routes through the range-bucketed
    two-level rank (operators/distributed.py:with_global_rank), never
    a partitionless window: ascending on -c keeps the bucket id
    monotonic with the (c DESC, term) global order. Round-5 verdict
    item #3; plan pinned partitionless-free in test_plans.py."""
    docs = t(spark, sf_dir, "documents")
    tok = docs.select(F.explode(OpText.tokens(F.col("text"))).alias("term"))
    cnt = tok.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    from data_frame_spark.operators import distributed as Dist

    ranked = Dist.with_global_rank(
        cnt, [-F.col("c"), F.col("term")], out="__x"
    )
    d = ranked.select(
        F.col("__x").cast("double").alias("x"),
        F.col("c").cast("double").alias("y"),
    )
    fit = OpFit.least_squares_fit(d, "x", "y", mode="power")
    a, b = fit.coefficients
    return local_frame(
        spark, [(_round6(a), _round6(b))], "a double, zipf_exponent double"
    )


@query(
    "per_source_cap_docs",
    oracle="""
    WITH r AS (
      SELECT doc_id, source, n_chars,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY CAST(n_chars AS DOUBLE) DESC NULLS LAST, doc_id
             ) AS group_rank
      FROM documents)
    SELECT doc_id, source, n_chars, CAST(group_rank AS BIGINT) AS group_rank
    FROM r WHERE group_rank <= 8
    """,
)
def per_source_cap_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap (the RefinedWeb-style "at most N docs
    per source, prefer the best" curation step): top 8 per source by
    n_chars, ties by doc_id. Two-phase at scale: per-group
    percentile_approx grid thresholds broadcast + applied map-side,
    exact rank window only on the ~cushion-sized remnant, survivor-
    count certificate re-admits any deficient group — output is
    exactly the one-phase window's, with no per-group funnel."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    out = OpSample.per_group_top_n(docs, "source", "n_chars", "doc_id", 8)
    return out.select(
        "doc_id", "source", "n_chars", F.col("group_rank").cast("long").alias("group_rank")
    )


@query(
    "mixture_sample_docs",
    oracle="""
    WITH t(lang, n) AS (VALUES ('en', 8), ('de', 5), ('zh', 3)),
    ranked AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR) || '|mix'), doc_id
             ) AS sample_rank
      FROM documents)
    SELECT r.doc_id, r.lang, CAST(r.sample_rank AS BIGINT) AS sample_rank
    FROM ranked r JOIN t ON r.lang = t.lang
    WHERE r.sample_rank <= t.n
    """,
)
def mixture_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-mixture sampling: per-language quotas (en 8, de 5,
    zh 3; other languages dropped) drawn in deterministic md5-hash
    order — the corpus "mixing" step of a training-data pipeline.
    Two-phase plan: per-stratum quota thresholds are broadcast and
    applied map-side, so a giant stratum with a tiny quota is cut to
    ~quota rows before the exact-rank window ever shuffles."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "lang")
    out = OpSample.mixture_sample(
        docs, "lang", "doc_id", {"en": 8, "de": 5, "zh": 3}, salt="mix"
    )
    return out.select(
        "doc_id", "lang", F.col("sample_rank").cast("long").alias("sample_rank")
    )


@query(
    "pack_chunks_256",
    oracle=r"""
    WITH norm AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
                  FROM documents),
    toks AS (SELECT doc_id, string_split(t, ' ') AS tk FROM norm),
    nch AS (SELECT doc_id, tk,
                   GREATEST(1, CAST(CEIL((len(tk) - 16) / 48.0) AS INT)) AS nc
            FROM toks),
    ch AS (SELECT doc_id, i AS chunk_idx,
                  array_to_string(tk[i*48+1 : i*48+64], ' ') AS chunk_text
           FROM nch, UNNEST(generate_series(0, nc - 1)) u(i)),
    chn AS (SELECT doc_id, chunk_idx, chunk_text,
                   len(string_split(chunk_text, ' ')) AS nt
            FROM ch),
    keyed AS (SELECT doc_id, chunk_idx, chunk_text, nt,
                     substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
                                CAST(chunk_idx AS VARCHAR) || '|pack'), 1, 15) AS pk
              FROM chn),
    s AS (SELECT doc_id, chunk_idx, chunk_text, nt,
                 CAST(SUM(nt) OVER (ORDER BY pk, doc_id, chunk_idx
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS e
          FROM keyed)
    SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
           md5(chunk_text) AS chunk_text_md5,
           CAST(nt AS BIGINT) AS chunk_n_tokens,
           (e - nt) // 256 AS pack_id,
           (e - nt) % 256 AS pack_offset
    FROM s
    """,
)
def pack_chunks_256(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking AND concat-style sequence packing in
    one oracle row (round-8 merge of chunk_documents into this query
    — both exercise OpText.chunk_rows; chunk content is verified via
    chunk_text_md5): 64-token/16-overlap chunks — a narrow
    tokenize→sequence→explode→slice transform, ZERO shuffles — laid
    end-to-end in deterministic md5 order and carved into 256-token
    packs, each chunk tagged with the pack its first token lands in
    and its offset inside that pack. The global running token sum
    goes through the range-bucketed two-level primitive (no
    partitionless window); integer token counts make the offsets
    exact in both engines."""
    docs = t(spark, sf_dir, "documents")
    chunks = OpText.chunk_rows(docs, "text", "doc_id", chunk_tokens=64, overlap=16)
    pk = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("doc_id").cast("string"),
                    F.lit(":"),
                    F.col("chunk_idx").cast("string"),
                    F.lit("|pack"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    packed = OpText.concat_pack(
        chunks.withColumn("__pk", pk),
        "chunk_n_tokens",
        ["__pk", "doc_id", "chunk_idx"],
        capacity=256,
    )
    return packed.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.md5("chunk_text").alias("chunk_text_md5"),
        F.col("chunk_n_tokens").cast("long").alias("chunk_n_tokens"),
        "pack_id",
        "pack_offset",
    )


@query(
    "corpus_stats_rollup",
    oracle=r"""
    WITH d AS (SELECT lang, source,
                      len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS nt,
                      n_chars
               FROM documents)
    SELECT COALESCE(lang, '<all>') AS lang,
           COALESCE(source, '<all>') AS source,
           COUNT(*) AS n_docs,
           CAST(SUM(nt) AS BIGINT) AS sum_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(CAST(SUM(n_chars) AS BIGINT) AS DOUBLE) / COUNT(*) AS avg_chars
    FROM d GROUP BY ROLLUP (lang, source)
    """,
)
def corpus_stats_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level corpus accounting in ONE pass: per (lang, source),
    per lang, and grand-total doc/token/char counts via ROLLUP
    grouping sets — the "how big is each slice" report every curation
    run starts with. Plans as a single Expand + one map-side-
    combinable aggregate (one shuffle of partial aggregates at any
    scale); integer sums + one exact double division keep the hash
    bit-stable. The reference's whole-frame fold family
    (df.rkt:1056-1100) generalized to grouping sets."""
    docs = t(spark, sf_dir, "documents")
    d = docs.select(
        "lang",
        "source",
        OpText.token_count(F.col("text")).cast("long").alias("__nt"),
        F.col("n_chars").cast("long").alias("__nc"),
    )
    return (
        d.rollup("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__nt").alias("sum_tokens"),
            F.sum("__nc").alias("sum_chars"),
        )
        .select(
            F.coalesce(F.col("lang"), F.lit("<all>")).alias("lang"),
            F.coalesce(F.col("source"), F.lit("<all>")).alias("source"),
            "n_docs",
            "sum_tokens",
            "sum_chars",
            (F.col("sum_chars").cast("double") / F.col("n_docs")).alias("avg_chars"),
        )
    )


@query(
    "denylist_scrub_docs",
    oracle=r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '\b(spark|customer)\b')) AS BIGINT) AS n_banned,
           regexp_replace(text, '\b(spark|customer)\b', '<BANNED>', 'g') AS redacted_text
    FROM documents
    """,
)
def denylist_scrub_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Denylist scrubbing: every match of the banned-term pattern is
    replaced with a placeholder token and counted — the same operator
    (operators/text.redact) ships email/phone/IPv4 PII patterns whose
    regex syntax runs identically in Java regex and RE2. A pure
    Column-expression map pass: ZERO shuffles at any corpus size."""
    docs = t(spark, sf_dir, "documents")
    out = OpText.redact(
        docs, "text", {"banned": r"\b(spark|customer)\b"}, out_col="redacted_text"
    )
    return out.select("doc_id", "n_banned", "redacted_text")


@query(
    "tfidf_top_terms_docs",
    oracle=r"""
    WITH norm AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
                  FROM documents),
    toks AS (SELECT doc_id, string_split(t, ' ') AS tk FROM norm),
    tok AS (SELECT doc_id, UNNEST(tk) AS term FROM toks),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok WHERE term <> ''
           GROUP BY doc_id, term),
    nd AS (SELECT COUNT(DISTINCT doc_id) AS nd FROM documents),
    dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    scored AS (SELECT t.doc_id, t.term, t.tf, d.df, t.tf * ln(nd.nd / d.df) AS s
               FROM tf t JOIN dfq d USING (term) CROSS JOIN nd),
    r AS (SELECT doc_id, term, tf, df,
                 ROW_NUMBER() OVER (PARTITION BY doc_id
                                    ORDER BY s DESC, tf DESC, term) AS term_rank
          FROM scored)
    SELECT doc_id, term, tf, df, CAST(term_rank AS BIGINT) AS term_rank
    FROM r WHERE term_rank <= 3
    """,
)
def tfidf_top_terms_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by TF×IDF. The
    hash-compared columns are the INTEGER facts (tf, df, rank): the
    ln() in the score is engine-ulp-sensitive (verified: JVM and
    DuckDB ln disagree in the last bit for ~8% of this domain), so
    the ordering uses it but the output does not — ordering is only
    ulp-sensitive if two DISTINCT (tf, df) pairs collide within one
    ulp, which integer inputs keep far apart; exact ties carry
    integer tie-breaks."""
    docs = t(spark, sf_dir, "documents")
    top = OpText.tfidf_top_terms(docs, "text", "doc_id", top_k=3)
    return top.select(
        "doc_id", "term", "tf", "df", F.col("rank").cast("long").alias("term_rank")
    )


@query(
    "json_props_rollup",
    oracle="""
    WITH e AS (SELECT event_type,
                      CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
               FROM events)
    SELECT event_type,
           COUNT(*) AS n,
           COUNT(k) AS n_valid,
           SUM(k) :: BIGINT AS k_sum,
           MIN(k) AS k_min,
           MAX(k) AS k_max,
           CAST(SUM(k) :: BIGINT AS DOUBLE) / COUNT(k) AS k_avg
    FROM e GROUP BY event_type
    """,
)
def json_props_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read over the semi-structured props column:
    from_json with an explicit schema, then a single map-side-
    combinable rollup keyed by event_type. Integer sum + one exact
    double division keep the oracle hash bit-stable (the BIGINT cast
    in the oracle avoids DuckDB's HUGEINT sum type — see the module
    notes). At scale this is one shuffle of partial aggregates;
    JSON parsing is JVM-side (Jackson), no Python."""
    from pyspark.sql.types import StructType, StructField, LongType

    ev = t(spark, sf_dir, "events")
    schema = StructType([StructField("k", LongType())])
    e = ev.select(
        "event_type", F.from_json(F.col("props"), schema).getField("k").alias("k")
    )
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.count("k").alias("n_valid"),
        F.sum("k").alias("k_sum"),
        F.min("k").alias("k_min"),
        F.max("k").alias("k_max"),
        (F.sum("k").cast("double") / F.count("k")).alias("k_avg"),
    )


from data_frame_spark.functions.texthash import sql_hash60 as _sql_h60

_KMV_HASH = _sql_h60("user_id")


@query(
    "kmv_family",
    oracle=f"""
    WITH h AS (SELECT DISTINCT CAST(event_type AS VARCHAR) AS scope,
                               {_KMV_HASH} AS hh
               FROM events
               UNION
               SELECT DISTINCT 'ALL' AS scope, {_KMV_HASH} AS hh FROM events),
    r AS (SELECT scope, hh,
                 ROW_NUMBER() OVER (PARTITION BY scope ORDER BY hh) AS rn
          FROM h),
    c AS (SELECT scope, COUNT(*) AS exact_distinct FROM h GROUP BY scope),
    kk AS (SELECT scope, MAX(hh) AS hk, COUNT(*) AS kmv_k
           FROM r WHERE rn <= 64 GROUP BY scope),
    ka AS (SELECT hh FROM r WHERE scope = 'click' AND rn <= 64),
    kb AS (SELECT hh FROM r WHERE scope = 'view' AND rn <= 64),
    u AS (SELECT hh FROM ka UNION SELECT hh FROM kb),
    mr AS (SELECT hh, ROW_NUMBER() OVER (ORDER BY hh) AS rn FROM u),
    mk AS (SELECT hh FROM mr WHERE rn <= 64),
    st AS (SELECT CAST(COUNT(*) AS BIGINT) AS mn, MAX(hh) AS uk,
                  CAST(SUM(CASE WHEN hh IN (SELECT hh FROM ka)
                                 AND hh IN (SELECT hh FROM kb)
                            THEN 1 ELSE 0 END) AS BIGINT) AS inter_k
           FROM mk),
    ex AS (SELECT CAST(COUNT(*) AS BIGINT) AS exact_union,
                  CAST(SUM(CASE WHEN cc = 2 THEN 1 ELSE 0 END) AS BIGINT) AS exact_inter
           FROM (SELECT hh, COUNT(*) AS cc FROM h
                 WHERE scope IN ('click', 'view') GROUP BY hh)),
    f AS (SELECT mn, inter_k,
                 CASE WHEN mn < 64 THEN CAST(mn AS DOUBLE)
                      ELSE 63.0 / (CAST(uk AS DOUBLE) / 1152921504606846976.0)
                 END AS uest,
                 CAST(inter_k AS DOUBLE) / CAST(mn AS DOUBLE) AS j
          FROM st)
    SELECT 'scope' AS facet, kk.scope AS scope, kk.kmv_k AS kmv_k,
           CASE WHEN kk.kmv_k < 64 THEN CAST(kk.kmv_k AS DOUBLE)
                ELSE 63.0 / (CAST(kk.hk AS DOUBLE) / 1152921504606846976.0)
           END AS estimate,
           c.exact_distinct AS exact, CAST(NULL AS BIGINT) AS metric_micro
    FROM kk JOIN c USING (scope)
    UNION ALL
    SELECT 'union' AS facet, 'click|view' AS scope, f.mn AS kmv_k,
           f.uest AS estimate, ex.exact_union AS exact,
           CAST(NULL AS BIGINT) AS metric_micro
    FROM f CROSS JOIN ex
    UNION ALL
    SELECT 'jaccard' AS facet, 'click|view' AS scope, f.mn AS kmv_k,
           CAST(NULL AS DOUBLE) AS estimate, CAST(NULL AS BIGINT) AS exact,
           CAST(FLOOR(f.j * 1000000.0 + 0.5) AS BIGINT) AS metric_micro
    FROM f
    UNION ALL
    SELECT 'intersection' AS facet, 'click|view' AS scope, f.mn AS kmv_k,
           CAST(NULL AS DOUBLE) AS estimate, ex.exact_inter AS exact,
           CAST(FLOOR(f.j * f.uest * 1000000.0 + 0.5) AS BIGINT) AS metric_micro
    FROM f CROSS JOIN ex
    """,
)
def kmv_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KMV sketch family in ONE oracle row (round-11 merge of
    kmv_distinct_users + kmv_set_ops_users; operators unchanged).

    'scope' facet — per-event_type (plus ALL) KMV distinct-user
    estimates (operators/sketch.py:kmv_distinct): md5-deterministic
    k-mins, so the gate can verify a cardinality estimator exactly,
    unlike engine-private HLL registers; exact is the demonstration
    baseline, the sketch path alone is the production read. 'union'/
    'jaccard'/'intersection' facets — theta-sketch set algebra over
    the click/view min-sets (kmv_set_ops): union via the (k-1)/u_k
    read-out on the merged min-set, Jaccard as the both-members
    fraction of K(A∪B), intersection = J × union. The set-ops result
    is ONE row feeding three facets, so it is localCheckpoint'd
    (eager, sketch-sized) instead of re-running the sketch pipeline
    per facet; per-scope k-mins prune map-side via WindowGroupLimit
    (~k rows per group shuffle, any corpus size)."""
    ev = t(spark, sf_dir, "events")
    d = OpSketch.kmv_distinct(
        ev, "user_id", group_col="event_type", k=64, include_overall=True
    )
    s = OpSketch.kmv_set_ops(
        ev, "user_id", "event_type", "click", "view", k=64
    ).localCheckpoint(eager=False)
    pair = F.concat_ws("|", "scope_a", "scope_b")
    scope_rows = d.select(
        F.lit("scope").alias("facet"), "scope", "kmv_k", "estimate",
        F.col("exact_distinct").alias("exact"),
    )
    union_rows = s.select(
        F.lit("union").alias("facet"), pair.alias("scope"),
        F.col("union_k").alias("kmv_k"),
        F.col("union_estimate").alias("estimate"),
        F.col("exact_union").alias("exact"),
    )
    jacc_rows = s.select(
        F.lit("jaccard").alias("facet"), pair.alias("scope"),
        F.col("union_k").alias("kmv_k"),
        F.col("jaccard_micro").alias("metric_micro"),
    )
    inter_rows = s.select(
        F.lit("intersection").alias("facet"), pair.alias("scope"),
        F.col("union_k").alias("kmv_k"),
        F.col("exact_inter").alias("exact"),
        F.col("inter_estimate_micro").alias("metric_micro"),
    )
    return (
        scope_rows.unionByName(union_rows, allowMissingColumns=True)
        .unionByName(jacc_rows, allowMissingColumns=True)
        .unionByName(inter_rows, allowMissingColumns=True)
    )


@query(
    "grid_quantiles_price",
    oracle="""
    WITH x AS (SELECT CAST(l_returnflag AS VARCHAR) AS scope,
                      CAST(l_extendedprice AS DOUBLE) AS v
               FROM lineitem WHERE l_extendedprice IS NOT NULL),
         rng AS (SELECT scope, MIN(v) AS lo, MAX(v) AS hi,
                        CAST(COUNT(*) AS BIGINT) AS n
                 FROM x GROUP BY scope),
         bnd AS (SELECT x.scope, lo, hi, n,
                        CASE WHEN hi = lo THEN 0
                             ELSE LEAST(CAST(FLOOR((v - lo) / ((hi - lo) / 256.0)) AS BIGINT), 255)
                        END AS b
                 FROM x JOIN rng USING (scope)),
         cnt AS (SELECT scope, lo, hi, n, b, CAST(COUNT(*) AS BIGINT) AS c
                 FROM bnd GROUP BY ALL),
         cum AS (SELECT *, SUM(c) OVER (PARTITION BY scope ORDER BY b) AS cm
                 FROM cnt),
         pr AS (SELECT UNNEST([0.01, 0.25, 0.5, 0.75, 0.99]) AS p),
         cand AS (SELECT scope, p, b, c, cm, lo, hi, n,
                         GREATEST(CAST(CEIL(p * n) AS BIGINT), 1) AS target
                  FROM cum CROSS JOIN pr
                  WHERE cm >= GREATEST(CAST(CEIL(p * n) AS BIGINT), 1)),
         pick AS (SELECT * FROM cand
                  QUALIFY ROW_NUMBER() OVER (PARTITION BY scope, p ORDER BY b) = 1),
         est AS (SELECT scope, p, n, b,
                        CASE WHEN hi = lo THEN lo
                             ELSE lo + ((hi - lo) / 256.0)
                                  * (b + CAST(target - (cm - c) AS DOUBLE) / c)
                        END AS e
                 FROM pick)
    SELECT scope, CAST(FLOOR(p * 100 + 0.5) AS BIGINT) AS prob_pct, n, b AS bin,
           CAST(FLOOR(e * 1e6 + 0.5) AS BIGINT) AS est_micro
    FROM est
    """,
)
def grid_quantiles_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable grid-quantile sketch of l_extendedprice per return
    flag: quantiles WITHOUT a sort — two map-combinable passes and a
    read-out on the aggregate-sized bin-count monoid. The scale path
    next to the exact `quantiles_price_and_value` (reference
    `df-quantile`, `statistics.rkt`)."""
    li = t(spark, sf_dir, "lineitem")
    return OpSketch.grid_quantiles(
        li,
        "l_extendedprice",
        probs=[0.01, 0.25, 0.5, 0.75, 0.99],
        bins=256,
        group_col="l_returnflag",
    )


@query(
    "salted_join_segment_revenue",
    oracle=f"""
    SELECT c.c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_orders,
           {sql_dsum('o.o_totalprice')} AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def salted_join_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per market segment through the EXPLICIT salted join
    (operators/skew.py): deterministic full-row-hash salt on the
    orders side, customer replicated R times, shuffle keyed by
    (custkey, salt) — the manual hot-key spreading path for non-AQE
    deployments. Results are salt-invariant, so the oracle is the
    plain join."""
    from data_frame_spark.operators.skew import salted_join

    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer").withColumnRenamed("c_custkey", "o_custkey")
    joined = salted_join(o, c, "o_custkey", replication=8)
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("revenue"),
    )


@query(
    "pairwise_corr_lineitem",
    oracle="""
    WITH d AS (SELECT CAST(FLOOR(CAST(l_quantity AS DOUBLE) * 1e6 + 0.5) AS HUGEINT) AS qa,
                      CAST(FLOOR(CAST(l_extendedprice AS DOUBLE) * 1e6 + 0.5) AS HUGEINT) AS qb,
                      CAST(FLOOR(CAST(l_discount AS DOUBLE) * 1e6 + 0.5) AS HUGEINT) AS qc,
                      CAST(FLOOR(CAST(l_tax AS DOUBLE) * 1e6 + 0.5) AS HUGEINT) AS qd
               FROM lineitem
               WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
                 AND l_discount IS NOT NULL AND l_tax IS NOT NULL),
         m AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                      SUM(qa) AS sa, SUM(qb) AS sb, SUM(qc) AS sc2, SUM(qd) AS sd,
                      SUM(qa*qa) AS saa, SUM(qb*qb) AS sbb,
                      SUM(qc*qc) AS scc, SUM(qd*qd) AS sdd,
                      SUM(qa*qb) AS sab, SUM(qa*qc) AS sac, SUM(qa*qd) AS sad,
                      SUM(qb*qc) AS sbc, SUM(qb*qd) AS sbd, SUM(qc*qd) AS scd
               FROM d),
         p AS (
           SELECT 'l_quantity' AS col_x, 'l_extendedprice' AS col_y, n,
                  n*sab - sa*sb AS num, n*saa - sa*sa AS dx, n*sbb - sb*sb AS dy FROM m
           UNION ALL SELECT 'l_quantity', 'l_discount', n,
                  n*sac - sa*sc2, n*saa - sa*sa, n*scc - sc2*sc2 FROM m
           UNION ALL SELECT 'l_quantity', 'l_tax', n,
                  n*sad - sa*sd, n*saa - sa*sa, n*sdd - sd*sd FROM m
           UNION ALL SELECT 'l_extendedprice', 'l_discount', n,
                  n*sbc - sb*sc2, n*sbb - sb*sb, n*scc - sc2*sc2 FROM m
           UNION ALL SELECT 'l_extendedprice', 'l_tax', n,
                  n*sbd - sb*sd, n*sbb - sb*sb, n*sdd - sd*sd FROM m
           UNION ALL SELECT 'l_discount', 'l_tax', n,
                  n*scd - sc2*sd, n*scc - sc2*sc2, n*sdd - sd*sd FROM m)
    SELECT col_x, col_y, CAST(n AS BIGINT) AS n,
           CAST(FLOOR(CAST(num AS DOUBLE)
                      / sqrt(CAST(dx AS DOUBLE) * CAST(dy AS DOUBLE))
                      * 1e6 + 0.5) AS BIGINT) AS corr_micro
    FROM p
    """,
)
def pairwise_corr_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Pearson correlation matrix of the four lineitem numeric
    columns in one map-combinable aggregate pass — integer micro
    moments in DECIMAL(38,0), doubles only in the final ratio."""
    li = t(spark, sf_dir, "lineitem")
    return OpStats.pairwise_corr(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )


from data_frame_spark.operators.sampling import split_thresholds as _split_thresholds

_SPLIT_BOUNDS = dict(
    _split_thresholds({"train": 0.9, "val": 0.05, "test": 0.05})
)


@query(
    "split_assignment_docs",
    # integer hash-scale boundaries from the SAME helper the operator
    # uses (operators/sampling.py:split_thresholds) — no float literal
    # can sit one ulp off the Spark-side CASE chain
    oracle=f"""
    WITH u AS (SELECT doc_id, source,
                      CAST({_sql_h60("CONCAT('exp1:', CAST(doc_id AS VARCHAR))")} AS BIGINT) AS h
               FROM documents),
         s AS (SELECT doc_id, source,
                      CASE WHEN h < {_SPLIT_BOUNDS["train"]} THEN 'train'
                           WHEN h < {_SPLIT_BOUNDS["val"]} THEN 'val'
                           ELSE 'test' END AS split
               FROM u)
    SELECT source, split, CAST(COUNT(*) AS BIGINT) AS n,
           MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM s GROUP BY source, split
    """,
)
def split_assignment_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test assignment by md5 hash
    range (reproducible, growth-stable, leak-resistant — never
    rand()), rolled up per source. The assignment itself is a
    zero-shuffle Column CASE chain."""
    from data_frame_spark.operators import sampling as OpSamp

    docs = t(spark, sf_dir, "documents")
    assigned = OpSamp.assign_splits(
        docs, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05}, salt="exp1"
    )
    return assigned.groupBy("source", "split").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


@query(
    "rolling_stats_value",
    oracle="""
    SELECT event_id, user_id,
           CAST(COUNT(value) OVER w AS BIGINT) AS roll_n,
           CAST(SUM(CAST(FLOOR(value * 1e6 + 0.5) AS BIGINT)) OVER w
                // COUNT(value) OVER w AS BIGINT) AS roll_mean_micro,
           MIN(value) OVER w AS roll_min,
           MAX(value) OVER w AS roll_max
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    """,
)
def rolling_stats_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 5-row rolling mean/min/max of event values per user —
    bounded ROWS frame (sliding n-row buffer, never the partition in
    memory), exact integer micro-mean."""
    from data_frame_spark.operators import window as OpW

    ev = t(spark, sf_dir, "events")
    out = OpW.rolling_stats(
        ev, "value", order_by=["ts", "event_id"], partition_by=["user_id"], n=5
    )
    return out.select(
        "event_id", "user_id", "roll_n", "roll_mean_micro", "roll_min", "roll_max"
    )


def _sql_interleave16(a: str, b: str) -> str:
    """DuckDB twin of operators.zorder.interleave_bits (bits=16)."""
    return " + ".join(
        f"((({a} >> {i}) & 1) << {2 * i}) + ((({b} >> {i}) & 1) << {2 * i + 1})"
        for i in range(16)
    )


@query(
    "zorder_key_events",
    oracle=f"""
    WITH x AS (SELECT event_id, CAST(value AS DOUBLE) AS v,
                      CAST(user_id AS DOUBLE) AS u
               FROM events),
         rng AS (SELECT MIN(v) AS vlo, MAX(v) AS vhi,
                        MIN(u) AS ulo, MAX(u) AS uhi FROM x),
         q AS (SELECT event_id,
                      CASE WHEN vhi = vlo THEN 0
                           ELSE LEAST(CAST(FLOOR((v - vlo) / ((vhi - vlo) / 65536.0)) AS BIGINT), 65535)
                      END AS qa,
                      CASE WHEN uhi = ulo THEN 0
                           ELSE LEAST(CAST(FLOOR((u - ulo) / ((uhi - ulo) / 65536.0)) AS BIGINT), 65535)
                      END AS qb
               FROM x CROSS JOIN rng),
         k AS (SELECT event_id, {_sql_interleave16('qa', 'qb')} AS zkey FROM q)
    SELECT zkey >> 22 AS z_prefix, CAST(COUNT(*) AS BIGINT) AS n,
           MIN(zkey) AS min_zkey, MAX(zkey) AS max_zkey
    FROM k GROUP BY 1
    """,
)
def zorder_key_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) clustering key over (value, user_id) rolled
    up by 10-bit curve prefix — the multi-dimensional data-skipping
    layout (operators/zorder.py): files written in z-key ranges carry
    tight min/max stats on BOTH columns."""
    from data_frame_spark.operators import zorder as OpZ

    ev = t(spark, sf_dir, "events")
    keyed = OpZ.zorder_key(ev, "value", "user_id", bits=16)
    return keyed.groupBy(
        F.shiftright(F.col("zkey"), 22).alias("z_prefix")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("zkey").alias("min_zkey"),
        F.max("zkey").alias("max_zkey"),
    )


@query(
    "robust_outliers_value",
    oracle="""
    WITH base AS (SELECT CAST(event_type AS VARCHAR) AS scope,
                         CAST(value AS DOUBLE) AS x
                  FROM events WHERE value IS NOT NULL),
         r1 AS (SELECT scope, x,
                       ROW_NUMBER() OVER (PARTITION BY scope ORDER BY x) AS rn,
                       COUNT(*) OVER (PARTITION BY scope) AS n
                FROM base),
         med AS (SELECT scope, x AS med, n FROM r1
                 WHERE rn = GREATEST(CAST(CEIL(0.5 * n) AS BIGINT), 1)),
         d AS (SELECT b.scope, ABS(b.x - m.med) AS dx
               FROM base b JOIN med m USING (scope)),
         r2 AS (SELECT scope, dx,
                       ROW_NUMBER() OVER (PARTITION BY scope ORDER BY dx) AS rn,
                       COUNT(*) OVER (PARTITION BY scope) AS n
                FROM d),
         mad AS (SELECT scope, dx AS mad FROM r2
                 WHERE rn = GREATEST(CAST(CEIL(0.5 * n) AS BIGINT), 1)),
         sc AS (SELECT b.scope, m.n, m.med, a.mad,
                       0.6745 * ABS(b.x - m.med) / a.mad AS z
                FROM base b JOIN med m USING (scope) JOIN mad a USING (scope))
    SELECT scope, n,
           CAST(FLOOR(med * 1e6 + 0.5) AS BIGINT) AS med_micro,
           CAST(FLOOR(mad * 1e6 + 0.5) AS BIGINT) AS mad_micro,
           CAST(SUM(CASE WHEN mad > 0 AND z > 3.5 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_outliers,
           MAX(CASE WHEN mad > 0 THEN CAST(FLOOR(z * 1e6 + 0.5) AS BIGINT) END)
               AS max_abs_z_micro
    FROM sc GROUP BY scope, n, med, mad
    """,
)
def robust_outliers_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD modified-z outlier audit of event values per event
    type — the robust counterpart to `df-statistics` mean/stddev
    (statistics.rkt:43-54). Both medians are exact, computed by
    grid-prune + remnant-rank (no per-group data sort)."""
    ev = t(spark, sf_dir, "events")
    return OpStats.robust_outlier_stats(ev, "value", group_col="event_type")


@query(
    "text_features_docs",
    oracle=r"""
    WITH base AS (SELECT doc_id, text,
                         string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS tk,
                         regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]') AS bw,
                         CAST(length(text) AS BIGINT) AS nc
                  FROM documents),
         feat AS (SELECT doc_id, tk, bw, nc,
                         len(list_filter(tk, x -> list_contains(['the','and','of','to','in','is','you','that','it','for'], x))) AS h_en,
                         len(list_filter(tk, x -> list_contains(['der','die','und','das','ist','nicht','ein','ich','mit','sich'], x))) AS h_de,
                         len(list_filter(tk, x -> list_contains(['le','la','les','et','des','une','est','que','pour','dans'], x))) AS h_fr,
                         len(list_filter(tk, x -> list_contains(['el','la','los','las','que','de','y','en','un','por'], x))) AS h_es,
                         CAST(length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS DOUBLE) / nc AS punct_ratio,
                         CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / nc AS digit_ratio,
                         CAST(len(list_filter(tk, x -> list_contains(
                              ['the','a','an','and','or','of','to','in','is','are','was','were','be','been','it','this','that','with','as','for','on','at','by','from','not','but'], x)))
                              AS DOUBLE) / len(tk) AS stopword_ratio,
                         CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) AS unique_token_ratio,
                         CAST(len(string_split(text, chr(10)))
                              - len(list_distinct(string_split(text, chr(10)))) AS DOUBLE)
                           / len(string_split(text, chr(10))) AS dup_line_fraction,
                         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
                  FROM base),
         bg AS (SELECT doc_id, tk[i] || ' ' || tk[i+1] AS b
                FROM base, UNNEST(generate_series(1, len(tk)-1)) t(i)
                WHERE len(tk) >= 2),
         bgc AS (SELECT doc_id, MAX(c) AS bestc
                 FROM (SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY 1, 2)
                 GROUP BY 1)
    SELECT doc_id,
           CASE WHEN GREATEST(h_en, h_de, h_fr, h_es) = 0 THEN 'und'
                WHEN h_fr = GREATEST(h_en, h_de, h_fr, h_es) THEN 'fr'
                WHEN h_es = GREATEST(h_en, h_de, h_fr, h_es) THEN 'es'
                WHEN h_en = GREATEST(h_en, h_de, h_fr, h_es) THEN 'en'
                ELSE 'de' END AS lang_pred,
           nc AS n_chars_q,
           CAST(len(tk) AS BIGINT) AS n_tokens,
           CAST(nc - (len(tk) - 1) AS DOUBLE) / len(tk) AS mean_token_len,
           punct_ratio, digit_ratio, stopword_ratio, unique_token_ratio,
           GREATEST(0.0,
             1.0 - LEAST(0.3, punct_ratio * 2) - LEAST(0.2, digit_ratio)
                 - (CASE WHEN stopword_ratio < 0.01 THEN 0.2 ELSE 0.0 END)
                 - (CASE WHEN unique_token_ratio < 0.1 THEN 0.3 ELSE 0.0 END)
           ) AS quality_score,
           CAST(len(tk) AS INT) AS ws_tokens,
           CAST(len(bw) + list_sum(list_transform(bw, x -> CAST(FLOOR(length(x)/7.0) AS BIGINT)))
                AS BIGINT) AS bpe_ish_tokens,
           dup_line_fraction,
           COALESCE(CAST(bgc.bestc AS DOUBLE) / (len(tk) - 1), 0.0) AS top_bigram_fraction,
           fingerprint
    FROM feat LEFT JOIN bgc USING (doc_id)
    """,
)
def text_features_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole per-document text-analysis family in one pass, all
    pure Column expressions over one documents scan: stopword-marker
    language ID ('und' on zero hits, ties to the lexicographically
    larger code), quality features (length/punct/digit/stopword/
    diversity ratios), the composite quality score in [0,1],
    whitespace + BPE-ish token counts, repetition signals (duplicate-
    line fraction and top-bigram occupancy — the published
    large-corpus repetition filters), and the md5 content fingerprint
    (the exact-dedup key)."""
    docs = t(spark, sf_dir, "documents")
    out = OpText.quality_score(docs, "text")
    out = OpText.lang_id(out, "text")
    out = OpText.repetition_features(out, "text")
    return out.select(
        "doc_id", "lang_pred", "n_chars_q", "n_tokens", "mean_token_len",
        "punct_ratio", "digit_ratio", "stopword_ratio", "unique_token_ratio",
        "quality_score",
        OpText.token_count(F.col("text")).alias("ws_tokens"),
        OpText.bpe_ish_token_count(F.col("text")).alias("bpe_ish_tokens"),
        "dup_line_fraction", "top_bigram_fraction",
        OpText.fingerprint(F.col("text")).alias("fingerprint"),
    )


def _quality_filter_oracle() -> str:
    # the features CTE is the (already driver-green) text_features
    # oracle verbatim; the filter adds only the decision CASE, so
    # both engines branch on bit-identical inputs
    return (
        "WITH feats AS (" + ORACLE["text_features_docs"] + ")\n"
        + """
    SELECT doc_id,
           CASE WHEN n_tokens < 10 THEN 'too_short'
                WHEN lang_pred = 'und' THEN 'und_lang'
                WHEN dup_line_fraction > 0.3 OR top_bigram_fraction > 0.2
                     THEN 'repetitive'
                WHEN quality_score < 0.5 THEN 'low_quality'
                ELSE 'kept' END AS decision,
           quality_score, n_tokens
    FROM feats
    """
    )


@query("quality_filter_docs", oracle=_quality_filter_oracle())
def quality_filter_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-curation decision step: every document gets a
    keep/drop verdict with an auditable reason code (first failing
    rule wins: too_short -> und_lang -> repetitive -> low_quality ->
    kept) — the published filter recipe over the same one-scan
    feature expressions as text_features_docs. Pure Column CASE, no
    extra shuffle; at 100 TB this is the map-side gate in front of
    every downstream stage."""
    feats = text_features_docs(spark, sf_dir)
    decision = (
        F.when(F.col("n_tokens") < 10, F.lit("too_short"))
        .when(F.col("lang_pred") == "und", F.lit("und_lang"))
        .when(
            (F.col("dup_line_fraction") > 0.3) | (F.col("top_bigram_fraction") > 0.2),
            F.lit("repetitive"),
        )
        .when(F.col("quality_score") < 0.5, F.lit("low_quality"))
        .otherwise(F.lit("kept"))
    )
    return feats.select(
        "doc_id", decision.alias("decision"), "quality_score", "n_tokens"
    )


@query(
    "segment_dedup_docs",
    oracle=r"""
    WITH norm AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
                  FROM documents),
         toks AS (SELECT doc_id, string_split(t, ' ') AS tk FROM norm),
         segidx AS (SELECT doc_id, tk,
                           UNNEST(generate_series(0, GREATEST(1, CAST(CEIL(len(tk)/3.0) AS INT)) - 1)) AS seg_no
                    FROM toks),
         seg AS (SELECT doc_id, seg_no,
                        array_to_string(tk[seg_no*3+1:seg_no*3+3], ' ') AS seg
                 FROM segidx),
         mk AS (SELECT doc_id, seg_no, seg,
                       ROW_NUMBER() OVER (PARTITION BY md5(seg)
                                          ORDER BY doc_id, seg_no) AS rn
                FROM seg)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_segments,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           md5(COALESCE(string_agg(CASE WHEN rn = 1 THEN seg END, ' ' ORDER BY seg_no), '')) AS kept_text_md5
    FROM mk GROUP BY doc_id
    """,
)
def segment_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus-level segment dedup: split every document
    into consecutive 3-token segments, keep each distinct segment
    only at its first (doc_id, seg_no) occurrence CORPUS-WIDE, and
    reassemble documents from the survivors. First-occurrence is a
    map-combinable MIN keyed by segment hash (never a row_number
    window over the hash — a boilerplate segment repeated 10^9
    times must partial-aggregate map-side); the oracle's window
    formulation is the single-node equivalent."""
    docs = t(spark, sf_dir, "documents")
    out = OpDedup.dedup_segments(docs, "text", "doc_id", seg_tokens=3)
    return out.select(
        "doc_id", "n_segments", "n_kept",
        F.md5("kept_text").alias("kept_text_md5"),
    )


# (duplicate_spans_keep_first_docs — the keep-ONE-copy policy row —
# was registered standalone rounds 8-12; round 13 folded it into
# spans_family as the 'keep_first' facet below: it shares the entire
# spans pipeline, operator contract unchanged, operator-level tests
# in test_textops.py/test_pipeline.py untouched.)

_SPANS_CTE = r"""
    WITH norm AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
                  FROM documents),
         toks0 AS (SELECT doc_id, string_split(t, ' ') AS tk FROM norm
                   WHERE len(string_split(t, ' ')) >= 5),
         wins AS MATERIALIZED (SELECT doc_id, i AS pos,
                         md5(array_to_string(tk[i+1:i+5], ' ')) AS h
                  FROM toks0, UNNEST(generate_series(0, len(tk) - 5)) u(i)),
         dups AS (SELECT h FROM wins GROUP BY h HAVING COUNT(*) >= 2),
         sp AS (SELECT doc_id, pos FROM wins JOIN dups USING (h)),
         b AS (SELECT doc_id, pos,
                      CASE WHEN LAG(pos) OVER w IS NULL
                                OR pos > LAG(pos) OVER w + 5
                           THEN 1 ELSE 0 END AS brk
               FROM sp WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         g AS (SELECT doc_id, pos,
                      SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                     ROWS UNBOUNDED PRECEDING) AS grp
               FROM b),
         spans AS MATERIALIZED (SELECT doc_id,
                                       MIN(pos) AS span_start,
                                       MAX(pos) + 5 AS span_end,
                                       COUNT(*) AS n_windows
                                FROM g GROUP BY doc_id, grp),
         rnk AS (SELECT doc_id, pos,
                        ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn,
                        COUNT(*) OVER (PARTITION BY h) AS c
                 FROM wins),
         spk AS (SELECT doc_id, pos FROM rnk WHERE c >= 2 AND rn > 1),
         bk AS (SELECT doc_id, pos,
                       CASE WHEN LAG(pos) OVER wk IS NULL
                                 OR pos > LAG(pos) OVER wk + 5
                            THEN 1 ELSE 0 END AS brk
                FROM spk WINDOW wk AS (PARTITION BY doc_id ORDER BY pos)),
         gk AS (SELECT doc_id, pos,
                       SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                      ROWS UNBOUNDED PRECEDING) AS grp
                FROM bk),
         spans_k AS (SELECT doc_id,
                            MIN(pos) AS span_start,
                            MAX(pos) + 5 AS span_end,
                            COUNT(*) AS n_windows
                     FROM gk GROUP BY doc_id, grp)
"""


@query(
    "spans_family",
    oracle=_SPANS_CTE
    + r""",
         kill AS (SELECT doc_id, UNNEST(generate_series(span_start, span_end - 1)) AS pos
                  FROM spans),
         tok AS (SELECT n.doc_id, i - 1 AS pos, tk[i] AS w
                 FROM (SELECT doc_id, string_split(t, ' ') AS tk FROM norm) n,
                      UNNEST(generate_series(1, len(n.tk))) u(i)),
         kept AS (SELECT t.doc_id, t.pos, t.w
                  FROM tok t LEFT JOIN kill k
                    ON t.doc_id = k.doc_id AND t.pos = k.pos
                  WHERE k.doc_id IS NULL),
         re AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
                       string_agg(w, ' ' ORDER BY pos) AS kept
                FROM kept GROUP BY doc_id),
         base AS (SELECT doc_id,
                         CAST(len(string_split(t, ' ')) AS BIGINT) AS n_tokens
                  FROM norm)
    SELECT 'spans' AS facet, doc_id,
           CAST(span_start AS BIGINT) AS span_start,
           CAST(span_end AS BIGINT) AS span_end,
           CAST(n_windows AS BIGINT) AS n_windows,
           CAST(NULL AS BIGINT) AS n_tokens,
           CAST(NULL AS BIGINT) AS n_kept,
           CAST(NULL AS VARCHAR) AS kept_text_md5
    FROM spans
    UNION ALL
    SELECT 'scrub', b.doc_id,
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           b.n_tokens,
           CAST(COALESCE(r.n_kept, 0) AS BIGINT),
           md5(COALESCE(r.kept, ''))
    FROM base b LEFT JOIN re r ON b.doc_id = r.doc_id
    UNION ALL
    SELECT 'keep_first', doc_id,
           CAST(span_start AS BIGINT),
           CAST(span_end AS BIGINT),
           CAST(n_windows AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS VARCHAR)
    FROM spans_k
    """,
)
def spans_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr span dedup end-to-end on ONE shared span pipeline —
    two facets (round-12 merge of duplicate_spans_docs +
    scrub_spans_docs):

    - 'spans': exact duplicate-span detection (Lee et al. 2022,
      relaxed to 5-token sliding windows) — every maximal document
      region whose every 5-token window recurs verbatim anywhere in
      the corpus. Sliding windows from the doc-keyed shingle shuffle;
      duplicated hashes by map-combinable count; mark-back via
      SHUFFLE left-semi on the hash (corpus-proportional set — never
      broadcast, pinned in test_plans); per-document gaps-and-islands
      merge.
    - 'scrub': the scrub step (ExactSubstr's 'remove every duplicated
      substring') — the flagged regions cut out of the text and
      survivors reassembled in order; the span table explodes to a
      (doc, position) kill-list bounded by flagged tokens, meeting
      the doc-keyed token stream in a shuffle left-anti join.

    - 'keep_first': the keep-ONE-copy policy — what production
      ExactSubstr pipelines actually run (Lee et al. 2022 §4: scrub
      every copy except one): each duplicated window's FIRST
      corpus-wide occurrence (deterministic (doc_id, pos) order, the
      oracle's ROW_NUMBER twin) is NOT flagged. The first-occurrence
      winner is a map-combinable MIN(struct) aggregate keyed by the
      window hash — never a row_number window over a potentially
      10^9-occurrence boilerplate hash (operators/dedup.py
      keep_first=True; folded in from the standalone
      duplicate_spans_keep_first_docs row in round 13).

    The hashed 5-token window relation is built ONCE
    (operators/dedup.span_windows, lazily localCheckpoint'd) and
    shared by BOTH duplicate_spans calls via their ``wins_rows``
    parameter — r19 optimization, guide §2.3: before, each call
    rebuilt the doc-keyed shingle shuffle + md5 pipeline per
    reference (dup aggregate + mark-back probe), i.e. 4 window
    builds per family run; after, one. The facets' dup aggregates
    still differ (keep_first carries the extra first-occurrence MIN)
    so their hash shuffles stay separate — only the window SOURCE is
    shared, which cannot change either facet's rows. The flag-all
    span table is still localCheckpoint'd (two facet consumers:
    'spans' + 'scrub'; pre-checkpoint plan shape pinned at operator
    level in test_plans.py). The oracle shares the MATERIALIZED
    wins/spans CTEs across all three legs."""
    docs = t(spark, sf_dir, "documents")
    wins = OpDedup.span_windows(docs, "text", "doc_id", k=5).localCheckpoint(
        eager=False
    )
    spans = OpDedup.duplicate_spans(
        docs, "text", "doc_id", k=5, wins_rows=wins
    ).localCheckpoint(eager=True)
    scrub = OpDedup.scrub_spans(docs, spans, "text", "doc_id")
    keep = OpDedup.duplicate_spans(
        docs, "text", "doc_id", k=5, keep_first=True, wins_rows=wins
    )
    s_leg = spans.select(
        F.lit("spans").alias("facet"), "doc_id", "span_start", "span_end",
        F.col("n_windows").cast("long").alias("n_windows"),
    )
    c_leg = scrub.select(
        F.lit("scrub").alias("facet"), "doc_id", "n_tokens", "n_kept",
        F.md5("kept_text").alias("kept_text_md5"),
    )
    k_leg = keep.select(
        F.lit("keep_first").alias("facet"), "doc_id", "span_start", "span_end",
        F.col("n_windows").cast("long").alias("n_windows"),
    )
    return s_leg.unionByName(c_leg, allowMissingColumns=True).unionByName(
        k_leg, allowMissingColumns=True
    )


@query(
    "gopher_repetition_docs",
    oracle=r"""
    WITH norm AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
                  FROM documents),
         toks AS (SELECT doc_id, length(t) AS ltot, string_split(t, ' ') AS tk FROM norm),
         g AS (SELECT doc_id, n,
                      UNNEST(list_transform(generate_series(1, len(tk)-n+1),
                                            i -> array_to_string(tk[i:i+n-1], ' '))) AS gram
               FROM toks CROSS JOIN (VALUES (2),(3),(4),(5),(10)) v(n)
               WHERE len(tk) >= n),
         c AS (SELECT doc_id, n, gram, COUNT(*) AS cnt FROM g GROUP BY doc_id, n, gram),
         tops AS (SELECT doc_id, n, cnt * length(gram) AS mass,
                         ROW_NUMBER() OVER (PARTITION BY doc_id, n
                                            ORDER BY cnt DESC, gram ASC) AS rn
                  FROM c),
         m AS (SELECT doc_id, 't' AS kind, n, CAST(mass AS BIGINT) AS mass
               FROM tops WHERE rn = 1
               UNION ALL
               SELECT doc_id, 'd' AS kind, n,
                      CAST(SUM(CASE WHEN cnt >= 2 THEN cnt * length(gram) ELSE 0 END) AS BIGINT)
               FROM c GROUP BY doc_id, n),
         wide AS (SELECT k.doc_id, k.ltot,
                         COALESCE(MAX(CASE WHEN kind='t' AND m.n=2 THEN mass END), 0) AS tm2,
                         COALESCE(MAX(CASE WHEN kind='t' AND m.n=3 THEN mass END), 0) AS tm3,
                         COALESCE(MAX(CASE WHEN kind='t' AND m.n=4 THEN mass END), 0) AS tm4,
                         COALESCE(MAX(CASE WHEN kind='d' AND m.n=5 THEN mass END), 0) AS dm5,
                         COALESCE(MAX(CASE WHEN kind='d' AND m.n=10 THEN mass END), 0) AS dm10
                  FROM toks k LEFT JOIN m ON k.doc_id = m.doc_id
                  GROUP BY k.doc_id, k.ltot),
         fr AS (SELECT doc_id,
                       CASE WHEN ltot > 0 THEN CAST(tm2 AS DOUBLE)/CAST(ltot AS DOUBLE) ELSE 0.0 END AS top_2gram_frac,
                       CASE WHEN ltot > 0 THEN CAST(tm3 AS DOUBLE)/CAST(ltot AS DOUBLE) ELSE 0.0 END AS top_3gram_frac,
                       CASE WHEN ltot > 0 THEN CAST(tm4 AS DOUBLE)/CAST(ltot AS DOUBLE) ELSE 0.0 END AS top_4gram_frac,
                       CASE WHEN ltot > 0 THEN CAST(dm5 AS DOUBLE)/CAST(ltot AS DOUBLE) ELSE 0.0 END AS dup_5gram_frac,
                       CASE WHEN ltot > 0 THEN CAST(dm10 AS DOUBLE)/CAST(ltot AS DOUBLE) ELSE 0.0 END AS dup_10gram_frac
                FROM wide)
    SELECT doc_id, top_2gram_frac, top_3gram_frac, top_4gram_frac,
           dup_5gram_frac, dup_10gram_frac,
           (top_2gram_frac < CAST(0.20 AS DOUBLE)
            AND top_3gram_frac < CAST(0.18 AS DOUBLE)
            AND top_4gram_frac < CAST(0.16 AS DOUBLE)
            AND dup_5gram_frac < CAST(0.15 AS DOUBLE)
            AND dup_10gram_frac < CAST(0.10 AS DOUBLE)) AS keep
    FROM fr
    """,
)
def gopher_repetition_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher repetition rule set (Rae et al. 2021 table A1):
    per-document char-mass fractions of the top {2,3,4}-gram and of
    duplicated {5,10}-grams, plus the keep/drop verdict (keep =
    every fraction strictly below its threshold). Complements
    quality_filter_docs' line/bigram signals with the full published
    n-gram family. ZERO shuffles — each fraction is a sorted in-row
    gram array + one run-length F.aggregate scan, so the filter is a
    narrow map-only pass at any corpus size (pinned in
    tests/test_plans.py)."""
    docs = t(spark, sf_dir, "documents")
    out = OpText.gopher_repetition(docs, "text", top_ns=(2, 3, 4), dup_ns=(5, 10))
    out = OpText.gopher_keep(out, (2, 3, 4), (5, 10))
    return out.select(
        "doc_id", "top_2gram_frac", "top_3gram_frac", "top_4gram_frac",
        "dup_5gram_frac", "dup_10gram_frac", "keep",
    )


_DOTQ = "SUM(CAST(FLOOR(CAST({a} AS DOUBLE)*CAST({b} AS DOUBLE)*1000000000.0 + 0.5) AS BIGINT))"


@query(
    "cosine_topk_embeddings",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
               WHERE vec_id < 3),
         pairs AS (SELECT q.query_id, e.vec_id, e.embedding AS be, q.qe
                   FROM embeddings e CROSS JOIN q),
         flat AS (SELECT query_id, vec_id, UNNEST(be) AS bv, UNNEST(qe) AS qv
                  FROM pairs),
         dots AS (SELECT query_id, vec_id,
                         {_DOTQ.format(a='bv', b='qv')} AS dq,
                         {_DOTQ.format(a='bv', b='bv')} AS nb,
                         {_DOTQ.format(a='qv', b='qv')} AS nq
                  FROM flat GROUP BY 1, 2),
         scored AS (SELECT query_id, vec_id,
                           (dq/1000000000.0)
                             / (SQRT(nb/1000000000.0) * SQRT(nq/1000000000.0)) AS cosine
                    FROM dots),
         r AS (SELECT query_id, vec_id, cosine,
                      ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY cosine DESC, vec_id ASC) AS rank
               FROM scored)
    SELECT query_id, vec_id, cosine, rank FROM r WHERE rank <= 5
    """,
)
def cosine_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-k: 3 query vectors against the
    full embedding table (broadcast queries, quantized integer dot
    products, deterministic tie-break by id)."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return OpSim.cosine_topk(emb, queries, k=5)


def _lsh_cte(num_planes: int = 4, dim: int = 64, n_flips: int = 2) -> str:
    """Shared DuckDB CTE reproducing the sign-LSH pipeline of
    :mod:`operators.similarity` bit-for-bit: the md5-derived
    hyperplanes are inlined as DOUBLE[] literals (repr() round-trips
    the exact doubles), plane dots and norms use the same quantized
    integer accumulation as :func:`OpSim.dot`, and multi-probe picks
    the ``n_flips`` smallest-|margin| bit flips with the same
    (margin, flipped-bucket) tie-break as ``probes_from_dots``. Margins
    compare as integers — same order as Spark's /1e9 doubles."""
    rows = []
    for h in range(num_planes):
        vals = ", ".join(repr(v) for v in OpSim._hyperplane(dim, h))
        rows.append(f"({h}, CAST([{vals}] AS DOUBLE[]))")
    values = ",\n                 ".join(rows)
    return f"""
    WITH pl(h, p) AS (VALUES {values}),
         vecs AS (SELECT vec_id, embedding AS e FROM embeddings),
         pdots AS (SELECT vec_id, h,
                          SUM(CAST(FLOOR(CAST(e[i] AS DOUBLE) * p[i]
                                         * 1000000000.0 + 0.5) AS BIGINT)) AS d
                   FROM vecs, pl, UNNEST(generate_series(1, {dim})) t(i)
                   GROUP BY 1, 2),
         homes AS (SELECT vec_id,
                          CAST(SUM(CASE WHEN d > 0 THEN (1 << h) ELSE 0 END)
                               AS BIGINT) AS home
                   FROM pdots GROUP BY 1),
         norms AS (SELECT vec_id,
                          sqrt(SUM(CAST(FLOOR(CAST(e[i] AS DOUBLE)
                                              * CAST(e[i] AS DOUBLE)
                                              * 1000000000.0 + 0.5) AS BIGINT))
                               / 1000000000.0) AS nn
                   FROM vecs, UNNEST(generate_series(1, {dim})) t(i)
                   GROUP BY 1),
         flips AS (SELECT p.vec_id, abs(p.d) AS m,
                          xor(h.home, CAST((1 << p.h) AS BIGINT)) AS fb
                   FROM pdots p JOIN homes h USING (vec_id)),
         rflips AS (SELECT vec_id, fb,
                           ROW_NUMBER() OVER (PARTITION BY vec_id
                                              ORDER BY m ASC, fb ASC) AS rk
                    FROM flips),
         probes AS (SELECT vec_id, home AS bucket FROM homes
                    UNION ALL
                    SELECT vec_id, fb AS bucket FROM rflips WHERE rk <= {n_flips})
    """


def _cc_minlabel_ctes(rounds: int = 30) -> str:
    """Connected components over the ``edges`` CTE as statically
    UNROLLED min-label propagation with pointer jumping — replacing
    the recursive-CTE transitive closure whose state is
    Σ|component|² (id, reachable) pairs: at the sf1 scale-up the
    cosine≥0.4 graph is one giant 19,461-node component, so the
    closure is ~379M rows and the twin OOM'd at a 65 GB cap even
    with disk spill (r16's documented exception; re-measured r17
    after the dot-product fix exposed this as the remaining bomb).
    Each round keeps ONE label per node (linear state):
    m' = LEAST(m(x), m(m(x)), min over neighbors of m(y)) — the
    jump term shortcuts path distance multiplicatively, so
    convergence is O(log n) rounds (classic parallel list-ranking);
    30 rounds covers any graph this repo can see with a 2× margin.
    Convergence is asserted LOUDLY in-band: if the last two rounds
    differ anywhere, a sentinel 'NONCONVERGED' facet row is emitted
    and the hash gate goes red, instead of a silently-wrong
    cluster."""
    # AS MATERIALIZED on every round: each lp{k} is referenced three
    # times by lp{k+1} (self, jump target, neighbor scan) — inlined,
    # the plan would re-expand the whole chain per reference
    # (exponential scan count; DuckDB ran out of file handles at 30
    # rounds). Materialized, each round is one small (nodes)-sized
    # intermediate.
    parts = [
        "lp0 AS MATERIALIZED (SELECT DISTINCT u AS id, u AS m FROM edges)"
    ]
    for k in range(1, rounds + 1):
        parts.append(
            f"""lp{k} AS MATERIALIZED (SELECT a.id,
                     LEAST(a.m, j.m, COALESCE(nb.mn, a.m)) AS m
              FROM lp{k - 1} a
              JOIN lp{k - 1} j ON j.id = a.m
              LEFT JOIN (SELECT e.u AS id, MIN(b.m) AS mn
                         FROM edges e JOIN lp{k - 1} b ON b.id = e.v
                         GROUP BY e.u) nb ON nb.id = a.id)"""
        )
    parts.append(
        f"""lpchk AS (SELECT COUNT(*) AS bad
               FROM lp{rounds} a JOIN lp{rounds - 1} b ON a.id = b.id
               WHERE a.m <> b.m)"""
    )
    parts.append(f"comp AS (SELECT id, m AS cluster_id FROM lp{rounds})")
    return ",\n      ".join(parts)


@query(
    "embedding_dedup_family",
    oracle=_lsh_cte() + """
    , cand AS (SELECT a.vec_id AS id_a, c.vec_id AS id_b
               FROM probes a JOIN homes c ON a.bucket = c.home
               WHERE a.vec_id < c.vec_id),
      pd AS (SELECT cd.id_a, cd.id_b,
                    list_aggregate(list_transform(generate_series(1, 64),
                        i -> CAST(FLOOR(CAST(ea.e[i] AS DOUBLE)
                                        * CAST(ec.e[i] AS DOUBLE)
                                        * 1000000000.0 + 0.5) AS BIGINT)),
                        'sum') AS dq
             FROM cand cd
             JOIN vecs ea ON ea.vec_id = cd.id_a
             JOIN vecs ec ON ec.vec_id = cd.id_b),
      scored AS MATERIALIZED (
                 SELECT p.id_a, p.id_b,
                        (p.dq / 1000000000.0) / (na.nn * nb.nn) AS cosine
                 FROM pd p
                 JOIN norms na ON na.vec_id = p.id_a
                 JOIN norms nb ON nb.vec_id = p.id_b),
      edges AS MATERIALIZED (
                SELECT id_a AS u, id_b AS v FROM scored WHERE cosine >= 0.4
                UNION ALL
                SELECT id_b AS u, id_a AS v FROM scored WHERE cosine >= 0.4),
      """ + _cc_minlabel_ctes() + """,
      csize AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM comp GROUP BY 1)
    SELECT 'pair' AS facet, id_a, id_b, cosine,
           CAST(NULL AS BIGINT) AS cluster_size
    FROM scored WHERE cosine >= 0.4
    UNION ALL
    SELECT 'cluster' AS facet, comp.id AS id_a, comp.cluster_id AS id_b,
           CAST(NULL AS DOUBLE) AS cosine, csize.cluster_size
    FROM comp JOIN csize USING (cluster_id)
    UNION ALL
    SELECT 'NONCONVERGED' AS facet, CAST(bad AS BIGINT) AS id_a,
           CAST(NULL AS BIGINT) AS id_b, CAST(NULL AS DOUBLE) AS cosine,
           CAST(NULL AS BIGINT) AS cluster_size
    FROM lpchk WHERE bad > 0
    """,
)
def embedding_dedup_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup PAIRS and their cluster collapse in
    one oracle row (round-9 merge of embedding_near_dup_pairs +
    embedding_dup_clusters; the operators are unchanged — and the
    LSH+verify pair pipeline now runs ONCE, shared by both facets,
    where the two separate queries each rebuilt it).

    'pair' facet: sign-LSH buckets + exact verify (cosine >= 0.4 —
    the synthetic embeddings are near-uniform, so 0.4 marks the
    unusually-close pairs); multi-probe (Hamming<=1 candidates,
    planes=4 + 3 probes ≈ 3/16 of pairs as candidates) lifts recall
    without an all-pairs stage. Everything is md5-derived and
    integer-quantized, so the DuckDB oracle reproduces buckets AND
    cosines exactly. 'cluster' facet: the same connected-components
    terminal stage as near_dup_clusters_docs over the pair stream
    (id_b carries cluster_id)."""
    emb = t(spark, sf_dir, "embeddings")
    pairs = OpSim.embedding_near_dup(
        emb, dim=64, threshold=0.4, num_planes=4, num_probes=3
    ).localCheckpoint(eager=False)
    pair_facet = pairs.select(
        F.lit("pair").alias("facet"),
        "id_a",
        "id_b",
        "cosine",
    )
    cluster_facet = OpGraph.cluster_documents(pairs).select(
        F.lit("cluster").alias("facet"),
        F.col("id").alias("id_a"),
        F.col("cluster_id").alias("id_b"),
        "cluster_size",
    )
    return pair_facet.unionByName(cluster_facet, allowMissingColumns=True)


@query(
    "lsh_ann_topk_embeddings",
    oracle=_lsh_cte() + """
    , cand AS (SELECT q.vec_id AS query_id, b.vec_id AS vec_id
               FROM probes q JOIN homes b ON q.bucket = b.home
               WHERE q.vec_id < 3),
      pd AS (SELECT c.query_id, c.vec_id,
                    SUM(CAST(FLOOR(CAST(eb.e[i] AS DOUBLE)
                                   * CAST(eq.e[i] AS DOUBLE)
                                   * 1000000000.0 + 0.5) AS BIGINT)) AS dq
             FROM cand c, vecs eb, vecs eq,
                  UNNEST(generate_series(1, 64)) t(i)
             WHERE eb.vec_id = c.vec_id AND eq.vec_id = c.query_id
             GROUP BY 1, 2),
      scored AS (SELECT p.query_id, p.vec_id,
                        (p.dq / 1000000000.0) / (nb.nn * nq.nn) AS cosine
                 FROM pd p
                 JOIN norms nb ON nb.vec_id = p.vec_id
                 JOIN norms nq ON nq.vec_id = p.query_id),
      r AS (SELECT query_id, vec_id, cosine,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, vec_id ASC) AS rk
            FROM scored)
    SELECT query_id, vec_id, cosine, CAST(rk AS INT) AS rank
    FROM r WHERE rk <= 5
    """,
)
def lsh_ann_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k via sign-LSH buckets with multi-probe (home bucket +
    two smallest-margin bit-flip buckets): candidate set ∝ probed
    bucket sizes, not corpus size. md5 hyperplanes + quantized dots
    make the approximate result deterministic, so the oracle twin
    reproduces it exactly."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return OpSim.lsh_ann_topk(
        emb, queries, dim=64, k=5, num_planes=4, num_probes=3
    )


# ---------------------------------------------------------------------------
# Event-time windows (streaming-capable aggregations, batch-checked;
# the identical DataFrame code runs under Structured Streaming —
# see data_frame_spark/streaming/windows.py and tests/test_streaming.py)
# ---------------------------------------------------------------------------

from data_frame_spark.streaming import windows as OpWin


@query(
    "stream_windows_hourly",
    oracle=f"""
    SELECT 'tumbling' AS kind,
           ((epoch_ns(ts)//1000) // 3600000000) * 3600 AS window_start,
           event_type,
           COUNT(*) AS n,
           {sql_dsum('value')} AS value_sum
    FROM events GROUP BY 2, 3
    UNION ALL
    SELECT 'sliding' AS kind, window_start, NULL AS event_type, n,
           CAST(NULL AS DOUBLE) AS value_sum
    FROM (
      WITH offs AS (SELECT UNNEST([0, 1, 2, 3]) AS k)
      SELECT ((epoch_ns(ts)//1000) // 900000000) * 900 - k * 900 AS window_start,
             COUNT(*) AS n
      FROM events CROSS JOIN offs
      GROUP BY 1
    )
    """,
)
def stream_windows_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time window family: ``streaming/windows``'
    ``tumbling_counts`` (1h windows per event_type) and
    ``sliding_counts`` (1h/15min global counts; each event lands in 4
    windows), union-tagged by kind. tests/test_streaming.py runs the
    same two functions under readStream + watermark."""
    ev = t(spark, sf_dir, "events")
    tum = OpWin.tumbling_counts(ev).select(F.lit("tumbling").alias("kind"), "*")
    sld = OpWin.sliding_counts(ev).select(
        F.lit("sliding").alias("kind"), "window_start", "n"
    )
    return tum.unionByName(sld, allowMissingColumns=True)


@query(
    "session_windows_30m",
    oracle=f"""
    WITH o AS (SELECT user_id, value, epoch_ns(ts)//1000 AS tus, ts, event_id
               FROM events),
         g AS (SELECT user_id, value, tus,
                      -- > : Spark's session windows [ts, ts+gap] merge when they
                      -- touch, so an event at exactly prev_ts+gap stays in the session
                      CASE WHEN tus - LAG(tus) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                                > 1800000000 OR
                                LAG(tus) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                           THEN 1 ELSE 0 END AS new_s
               FROM o),
         s AS (SELECT user_id, value, tus,
                      SUM(new_s) OVER (PARTITION BY user_id ORDER BY tus
                                       ROWS UNBOUNDED PRECEDING) AS sid
               FROM g)
    SELECT user_id, MIN(tus) // 1000000 AS session_start,
           COUNT(*) AS n, {sql_dsum('value')} AS value_sum
    FROM s GROUP BY user_id, sid
    """,
)
def session_windows_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30min gap) per user: ``streaming/windows``'
    ``session_counts``, which tests/test_streaming.py also runs under
    readStream + watermark. The oracle reproduces gap-based
    sessionization with a cumulative new-session flag."""
    ev = t(spark, sf_dir, "events")
    return OpWin.session_counts(ev).select("user_id", "session_start", "n", "value_sum")


# ---------------------------------------------------------------------------
# Multimodal columns (binary payload + typed metadata; SURVEY §7 Phase 6):
# binary_features_family and its binary_features_leg are registered in
# the binary-features section below.
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# Additional reference-surface + engine-breadth queries
# ---------------------------------------------------------------------------

@query(
    "forecast_revenue",
    oracle=f"""
    SELECT {sql_dsum('l_extendedprice * l_discount')} AS revenue_delta
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.03 AND 0.05 AND l_quantity < 24
    """,
)
def forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan+filter+agg — the fully-pushed-down
    path (no shuffle beyond the final 1-row combine)."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.03, 0.05)
            & (F.col("l_quantity") < 24)
        )
        .agg(dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue_delta"))
    )


@query(
    "shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue,
           o_orderdate, o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND l_shipdate > TIMESTAMP '1998-01-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    """,
)
def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective filters pushed to the scans, grouped
    revenue. Broadcast discipline (round-7 fix, caught by
    plans.checks.data_sized_broadcasts): BOTH join sides here are
    SF-proportional — the date filter keeps most of orders and the
    BUILDING segment is ~1/5 of customer, i.e. billions of rows at
    100 TB — so neither carries a broadcast hint; Catalyst/AQE
    broadcasts them at small SF and key-partitions at scale (the
    li⋈orders join co-partitions on orderkey either way)."""
    cust = t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


@query(
    "index_range_select",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_totalprice >= 100000 AND o_totalprice < 150000
    """,
)
def index_range_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df-select/by-index #:from/#:to (df.rkt:822-936): a secondary
    index is an iteration order + key range; in Spark the range
    predicate IS the index lookup (min/max pruning at the scan)."""
    orders = t(spark, sf_dir, "orders")
    fr = Frame(orders).add_index("by_price", "o_totalprice")
    lo, hi = 100000, 150000
    return (
        fr.df.where(
            (F.col("o_totalprice") >= lo) & (F.col("o_totalprice") < hi)
        ).select("o_orderkey", "o_custkey", "o_totalprice")
    )


@query(
    "simhash_docs",
    oracle=r"""
    WITH toks AS (SELECT doc_id,
                         UNNEST(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS s
                  FROM documents),
         wtok AS (SELECT doc_id, s, COUNT(*) AS w FROM toks GROUP BY 1, 2),
         h AS (SELECT doc_id, w, ({H60}) AS hv FROM wtok),
         bits AS (SELECT doc_id, w, hv, UNNEST(generate_series(0, 59)) AS b FROM h),
         votes AS (SELECT doc_id, b,
                          SUM(CASE WHEN (hv >> b) & 1 = 1 THEN w ELSE -w END) AS v
                   FROM bits GROUP BY 1, 2)
    SELECT doc_id,
           CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
                AS BIGINT) AS simhash
    FROM votes GROUP BY doc_id
    """.replace("{H60}", _H60),
)
def simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signatures (60-bit weighted bit votes over token
    hashes) — near-dup detection via signature bands at scale."""
    docs = t(spark, sf_dir, "documents")
    return OpDedup.simhash(docs, "text", "doc_id")


@query(
    "winnowed_fingerprints_docs",
    oracle=r"""
    WITH norm AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
                  FROM documents),
         toks AS (SELECT doc_id, string_split(t, ' ') AS tk FROM norm),
         sh AS (SELECT doc_id,
                       CASE WHEN len(tk) < 5 THEN [array_to_string(tk, ' ')]
                            ELSE list_transform(generate_series(1, len(tk)-4),
                                                i -> array_to_string(tk[i:i+4], ' '))
                       END AS shingles
                FROM toks),
         hs AS (SELECT doc_id, list_transform(shingles, s -> md5(s)) AS hashes FROM sh),
         win AS (SELECT doc_id,
                        CASE WHEN len(hashes) < 4 THEN [list_aggregate(hashes, 'min')]
                             ELSE list_distinct(list_transform(
                                    generate_series(1, len(hashes)-3),
                                    i -> list_aggregate(hashes[i:i+3], 'min')))
                        END AS fps
                 FROM hs)
    SELECT doc_id, UNNEST(fps) AS fp FROM win
    """,
)
def winnowed_fingerprints_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (robust local near-dup/plagiarism
    marks): min-hash of each sliding window of 4 consecutive 5-gram
    shingle hashes, distinct per document."""
    docs = t(spark, sf_dir, "documents")
    return OpText.winnowed_fingerprint_rows(docs, "text", "doc_id", k=5, window=4).select(
        F.col("__id").alias("doc_id"), F.col("__fp").alias("fp")
    )



@query(
    "asof_multi_value_lookup",
    oracle="""
    WITH clicks AS (SELECT event_id, user_id, ts, value FROM events
                    WHERE event_type = 'click'),
         views  AS (SELECT event_id AS view_event_id, user_id, ts,
                           value AS view_value
                    FROM events WHERE event_type = 'view')
    SELECT c.event_id, c.user_id, v.view_event_id, v.view_value
    FROM clicks c ASOF LEFT JOIN views v
      ON c.user_id = v.user_id AND c.ts >= v.ts
    """,
)
def asof_multi_value_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df-lookup* with multiple result series (df.rkt:489-507): one
    as-of pass carries every requested column of the matched row."""
    ev = t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts_ns", "value"
    )
    views = ev.where(F.col("event_type") == "view").select(
        "user_id", "ts_ns",
        F.col("event_id").alias("view_event_id"),
        F.col("value").alias("view_value"),
    )
    return OpLookup.asof_join(
        clicks, views, on="ts_ns",
        value_cols=["view_event_id", "view_value"],
        partition_by=["user_id"],
    ).select("event_id", "user_id", "view_event_id", "view_value")

# ---------------------------------------------------------------------------
# Partitioned ordered paths, driver-proven (VERDICT r1 #4/#7): the
# same mean-max machinery with partition_by — every window carries
# PARTITION BY user_id, so the plan has NO single-partition sort.
# tests/test_plans.py pins that property.
# ---------------------------------------------------------------------------

_MM_USER_BASE = """
    WITH pts AS (SELECT user_id, (epoch_ns(ts)//1000)/1000000.0 AS x, value AS y,
                        value * value AS y2
                 FROM events WHERE value IS NOT NULL),
         s AS (SELECT user_id, x, y,
                      (x - LAG(x) OVER w) * (LAG(y) OVER w + y)/2 AS slice,
                      (x - LAG(x) OVER w) * (LAG(y2) OVER w + y2)/2 AS slice2,
                      LEAD(x) OVER w AS nx
               FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY x)),
         a AS (SELECT user_id, x, nx,
                      COALESCE(SUM(CAST(FLOOR(slice * 1000000.0 + 0.5) AS BIGINT))
                               OVER wc, 0) / 1000000.0 AS A,
                      COALESCE(SUM(CAST(FLOOR(slice2 * 1000000.0 + 0.5) AS BIGINT))
                               OVER wc, 0) / 1000000.0 AS A2,
                      MAX(x) OVER (PARTITION BY user_id) AS xmax
               FROM s WINDOW wc AS (PARTITION BY user_id ORDER BY x
                                    ROWS UNBOUNDED PRECEDING)),
         d AS (SELECT CAST(UNNEST([86400, 604800]) AS DOUBLE) AS duration),
         probes AS (SELECT a.user_id, a.x AS pos, d.duration, a.A AS A_start,
                           a.x + d.duration AS k
                    FROM a CROSS JOIN d
                    WHERE a.nx IS NOT NULL AND a.x + d.duration <= a.xmax),
         back AS (SELECT p.user_id, p.pos, p.duration, p.A_start, p.k,
                         b.x AS x0, b.A AS A0
                  FROM probes p ASOF LEFT JOIN a b
                    ON p.user_id = b.user_id AND p.k >= b.x),
         fwd AS (SELECT p.user_id, p.pos, p.duration, b.x AS x1, b.A AS A1
                 FROM probes p ASOF LEFT JOIN a b
                   ON p.user_id = b.user_id AND p.k < b.x),
         m AS (SELECT back.user_id, back.duration, back.pos,
                      (CASE WHEN fwd.x1 IS NULL OR fwd.x1 = back.x0 THEN back.A0
                            ELSE back.A0 + (back.k - back.x0)/(fwd.x1 - back.x0)
                                           *(fwd.A1 - back.A0) END
                       - back.A_start) / back.duration AS mean
               FROM back JOIN fwd
                 ON back.user_id = fwd.user_id AND back.pos = fwd.pos
                AND back.duration = fwd.duration),
         r AS (SELECT user_id, duration, pos, mean,
                      ROW_NUMBER() OVER (PARTITION BY user_id, duration
                                         ORDER BY mean DESC, pos ASC) AS rk
               FROM m)
"""


@query(
    "mean_max_user_family",
    oracle=_MM_USER_BASE
    + """
    , win AS (SELECT user_id, duration, pos FROM r WHERE rk = 1),
    pe AS (SELECT user_id, duration, pos, pos AS k, 0 AS e FROM win
           UNION ALL
           SELECT user_id, duration, pos, pos + duration AS k, 1 AS e FROM win),
    b2 AS (SELECT p.user_id, p.duration, p.pos, p.e, p.k, b.x AS x0, b.A2 AS A0
           FROM pe p ASOF LEFT JOIN a b ON p.user_id = b.user_id AND p.k >= b.x),
    f2 AS (SELECT p.user_id, p.duration, p.pos, p.e, b.x AS x1, b.A2 AS A1
           FROM pe p ASOF LEFT JOIN a b ON p.user_id = b.user_id AND p.k < b.x),
    at2 AS (SELECT b2.user_id, b2.duration, b2.pos, b2.e,
                   CASE WHEN f2.x1 IS NULL OR f2.x1 = b2.x0 THEN b2.A0
                        ELSE b2.A0 + (b2.k - b2.x0)/(f2.x1 - b2.x0)*(f2.A1 - b2.A0)
                   END AS Aat
            FROM b2 JOIN f2
              ON b2.user_id = f2.user_id AND b2.duration = f2.duration
             AND b2.pos = f2.pos AND b2.e = f2.e),
    lraw AS (SELECT user_id,
                    ((epoch_ns(ts)//1000)
                      - MIN(epoch_ns(ts)//1000) OVER (PARTITION BY user_id))
                      / 1000000.0 AS x,
                    COALESCE(value, 0.0) AS y
             FROM events),
    ltagged AS (SELECT user_id, x, y,
                       COALESCE(LAG(x) OVER (PARTITION BY user_id ORDER BY x),
                                0.0) AS px,
                       ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY x) AS k
                FROM lraw),
    lpts AS (SELECT user_id, px AS x, y, 2*k - 1 AS tb FROM ltagged
             UNION ALL SELECT user_id, x, y, 2*k AS tb FROM ltagged),
    -- tb encodes sequence order (start_k=2k-1, end_k=2k): with
    -- x nondecreasing in sequence, ORDER BY x, tb IS the
    -- reference's point order even when coordinates collide
    ls AS (SELECT user_id, x, tb, y,
                  (x - LAG(x) OVER w) * (LAG(y) OVER w + y)/2 AS slice,
                  LEAD(x) OVER w AS nx
           FROM lpts WINDOW w AS (PARTITION BY user_id ORDER BY x, tb)),
    la AS (SELECT user_id, x, nx,
                  COALESCE(SUM(CAST(FLOOR(slice * 1000000.0 + 0.5) AS BIGINT))
                           OVER (PARTITION BY user_id ORDER BY x, tb
                                 ROWS UNBOUNDED PRECEDING), 0) / 1000000.0 AS A,
                  MAX(x) OVER (PARTITION BY user_id) AS xmax
           FROM ls),
    lprobes AS (SELECT la.user_id, la.x AS pos, d.duration, la.A AS A_start,
                       la.x + d.duration AS k
                FROM la CROSS JOIN d
                WHERE la.nx IS NOT NULL AND la.x + d.duration <= la.xmax),
    lback AS (SELECT p.user_id, p.pos, p.duration, p.A_start, p.k,
                     b.x AS x0, b.A AS A0
              FROM lprobes p ASOF LEFT JOIN la b
                ON p.user_id = b.user_id AND p.k >= b.x),
    lfwd AS (SELECT p.user_id, p.pos, p.duration, b.x AS x1, b.A AS A1
             FROM lprobes p ASOF LEFT JOIN la b
               ON p.user_id = b.user_id AND p.k < b.x),
    lm AS (SELECT lback.user_id, lback.duration, lback.pos,
                  (CASE WHEN lfwd.x1 IS NULL OR lfwd.x1 = lback.x0 THEN lback.A0
                        ELSE lback.A0 + (lback.k - lback.x0)/(lfwd.x1 - lback.x0)
                                       *(lfwd.A1 - lback.A0) END
                   - lback.A_start) / lback.duration AS mean
           FROM lback JOIN lfwd
             ON lback.user_id = lfwd.user_id AND lback.pos = lfwd.pos
            AND lback.duration = lfwd.duration),
    lr AS (SELECT user_id, duration, pos, mean,
                  ROW_NUMBER() OVER (PARTITION BY user_id, duration
                                     ORDER BY mean DESC, pos ASC) AS rk
           FROM lm)
    SELECT 'base' AS facet, user_id, duration, pos, mean AS metric
    FROM r WHERE rk = 1
    UNION ALL
    SELECT 'aux' AS facet, user_id, duration, pos,
           (MAX(CASE WHEN e = 1 THEN Aat END) - MAX(CASE WHEN e = 0 THEN Aat END))
             / duration AS metric
    FROM at2 GROUP BY user_id, duration, pos
    UNION ALL
    SELECT 'lap' AS facet, user_id, duration, pos, mean AS metric
    FROM lr WHERE rk = 1
    """,
)
def mean_max_user_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-user mean-max family in ONE oracle row (round-10 merge
    of mean_max_by_user + mean_max_aux_by_user +
    lap_swim_mean_max_by_user; operators unchanged).

    'base' facet — df-mean-max per entity (meanmax.rkt:262-269 with
    partition_by): every sort/window/rank is PARTITION BY user_id,
    the 100 TB shape (the global-order variant in
    meanmax_curve_family's 'mm' facet is the single-series case). 'aux' facet — df-mean-max-aux
    (meanmax.rkt:310-314): the mean of a SECOND series (value², e.g.
    power-at-best-speed) over each winning window — same
    interpolated-A formulation probed at (pos, pos+duration). The
    winning-window table is built ONCE (eager localCheckpoint, it is
    users×durations-sized) and shared by both facets; the two
    pre-merge rows each rebuilt the whole ladder pipeline. 'lap'
    facet — df-mean-max/lap-swim (meanmax.rkt:270-304): each discrete
    sample becomes a constant-value segment [(prev_x, v), (x, v)]
    with NA->0 (pauses count), per user on an activity-relative
    x-axis, then the standard mean-max; duplicate-x tie points carry
    zero-width slices, so tie order cannot perturb the A-curve. The
    lap facet expands a DIFFERENT point stream, so it shares nothing
    but the operator."""
    from pyspark.sql import Window as W

    ev = t(spark, sf_dir, "events").withColumn(
        "x", F.col("ts_us") / F.lit(1000000.0)
    ).withColumn("value2", F.col("value") * F.col("value"))
    mm = OpMM.mean_max(
        ev, "value", "x", durations=[86400, 604800],
        partition_by=["user_id"], slice_scale=6,
    ).localCheckpoint(eager=False)
    base = mm.select(
        F.lit("base").alias("facet"), "user_id", "duration", "pos",
        F.col("best_mean").alias("metric"),
    )
    aux = OpMM.mean_max_aux(
        ev, mm, "value2", "x", partition_by=["user_id"], slice_scale=6
    ).select(
        F.lit("aux").alias("facet"), "user_id", "duration", "pos",
        F.col("aux_mean").alias("metric"),
    )
    evl = t(spark, sf_dir, "events").withColumn(
        "x",
        (F.col("ts_us") - F.min("ts_us").over(W.partitionBy("user_id")))
        / F.lit(1000000.0),
    )
    expanded = OpMM.lap_swim_expand(evl, "value", "x", partition_by=["user_id"])
    lap = OpMM.mean_max(
        expanded, "value", "x", durations=[86400, 604800],
        partition_by=["user_id"], slice_scale=6, tiebreak_col="lap_tb",
    ).select(
        F.lit("lap").alias("facet"), "user_id", "duration", "pos",
        F.col("best_mean").alias("metric"),
    )
    return base.unionByName(aux).unionByName(lap)


def _hex7(col: str, start: int) -> str:
    """DuckDB integer value of md5 hex digits [start, start+7) —
    the SQL twin of F.conv(substring(md5, start, 7), 16, 10)."""
    return " + ".join(
        f"(CASE WHEN ascii(substr({col}, {start + i}, 1)) >= 97 "
        f"THEN ascii(substr({col}, {start + i}, 1)) - 87 "
        f"ELSE ascii(substr({col}, {start + i}, 1)) - 48 END) * {16 ** (6 - i)}"
        for i in range(7)
    )


@query(
    "cms_token_counts",
    oracle=r"""
    WITH norm AS (SELECT trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
                  FROM documents),
         tok AS (SELECT UNNEST(string_split(t, ' ')) AS token FROM norm),
         tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tok),
         occ AS (SELECT md5(token) AS hh FROM tok),
         ctr AS (SELECT j, p, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
                   SELECT j, CASE j WHEN 0 THEN ({H0}) % 16
                                    WHEN 1 THEN ({H1}) % 16
                                    ELSE ({H2}) % 16 END AS p
                   FROM occ, (VALUES (0),(1),(2)) v(j))
                 GROUP BY j, p),
         hvy AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_count
                 FROM tok CROSS JOIN tot
                 GROUP BY token, n
                 HAVING COUNT(*) >= n // 30),
         kh AS (SELECT token, exact_count, md5(token) AS hh FROM hvy),
         kp AS (SELECT token, exact_count, j,
                       CASE j WHEN 0 THEN ({H0}) % 16
                              WHEN 1 THEN ({H1}) % 16
                              ELSE ({H2}) % 16 END AS p
                FROM kh, (VALUES (0),(1),(2)) v(j)),
         est AS (SELECT token, exact_count,
                        MIN(COALESCE(cnt, 0)) AS cms_count
                 FROM kp LEFT JOIN ctr ON kp.j = ctr.j AND kp.p = ctr.p
                 GROUP BY token, exact_count)
    SELECT token, exact_count, CAST(cms_count AS BIGINT) AS cms_count,
           CAST(cms_count - exact_count AS BIGINT) AS overcount
    FROM est
    """.replace("{H0}", _hex7("hh", 1))
       .replace("{H1}", _hex7("hh", 8))
       .replace("{H2}", _hex7("hh", 15)),
)
def cms_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the corpus token stream, BOTH facets in
    one query (round-7 registry merge of cms_token_counts +
    heavy_hitter_tokens — same operators, one driver row): exact
    heavy hitters (>= 1/30 of all occurrences) found through the
    CMS GATE — the bounded sketch is collected into literal lookup
    arrays and every occurrence evaluates its own estimate map-side,
    so only heavy-candidate occurrences reach the exact groupBy —
    then each heavy hitter's CMS point estimate vs its exact count
    (width 16 x depth 3, deliberately tiny so the oracle exercises
    real collisions; overcount >= 0 always; the gate can only admit
    extras, never drop a true heavy hitter, so the result equals the
    naive full aggregation). Counters are bounded by depth x width
    however large the corpus, merge by element-wise SUM, and
    estimation arrives as a broadcast build."""
    from data_frame_spark.operators import sketch as OpSketch2

    docs = t(spark, sf_dir, "documents")
    # ONE tokenize+explode pass shared by the sketch build and the
    # gated exact count (r19, guide §2.3): before, each consumer
    # re-ran the scan+tokenize+explode. Same decontamination-grams
    # trade, stated honestly: the checkpointed stream is
    # corpus-proportional (MEMORY_AND_DISK, spills), bought back by
    # skipping the second scan+tokenize; the sketch aggregate and
    # the gate stay map-side, so no exchange grows.
    tok = docs.select(
        F.explode(OpText.tokens(F.col("text"))).alias("token")
    ).localCheckpoint(eager=False)
    # ONE full-corpus sketch aggregation: its collected rows feed
    # both the heavy-hitter gate (as literal probe arrays) and the
    # point-estimate join (as a 48-row literal counter frame)
    ctr = OpSketch2.cms_build(tok, "token", width=16, depth=3)
    ctr_rows = ctr.collect()
    hh = OpSketch2.cms_heavy_hitters(
        tok, "token", min_div=30, width=16, depth=3, counters=ctr_rows
    )
    est = OpSketch2.cms_estimate(
        local_frame(spark, ctr_rows, ctr.schema),
        hh.select("token"),
        "token",
        width=16,
        depth=3,
    )
    return hh.join(est, "token").select(
        "token", "exact_count", "cms_count",
        (F.col("cms_count") - F.col("exact_count")).alias("overcount"),
    )


#: alpha_m * m^2 for m=256 (Flajolet et al. AofA'07) — the same
#: Python float literal feeds both engines, so the doubles agree
_HLL_ALPHA_M2 = 0.7213 / (1.0 + 1.079 / 256.0) * 65536.0


@query(
    "hll_distinct_shingles",
    oracle=r"""
    WITH norm AS (SELECT source, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
                  FROM documents),
         toks AS (SELECT source, string_split(t, ' ') AS tk FROM norm),
         sh AS (SELECT source,
                       CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                            ELSE list_transform(generate_series(1, len(tk)-2),
                                                i -> array_to_string(tk[i:i+2], ' '))
                       END AS shingles
                FROM toks),
         ex0 AS (SELECT source AS scope, UNNEST(shingles) AS s FROM sh),
         ex AS (SELECT scope, s FROM ex0
                UNION ALL SELECT 'ALL', s FROM ex0),
         hh AS (SELECT scope, md5(s) AS hh FROM ex),
         reg AS (SELECT scope, ({HEX2}) AS j, ({HEX10}) AS w FROM hh),
         rho AS (SELECT scope, j,
                        CASE WHEN w = 0 THEN 41 ELSE 41 - length(bin(w)) END AS r
                 FROM reg),
         mj AS (SELECT scope, j, MAX(r) AS mj FROM rho GROUP BY scope, j),
         agg AS (SELECT scope, CAST(COUNT(*) AS BIGINT) AS hll_registers_set,
                        SUM(POWER(2.0, -mj)) AS s
                 FROM mj GROUP BY scope),
         exact AS (SELECT scope, CAST(COUNT(DISTINCT hh) AS BIGINT) AS exact_distinct
                   FROM hh GROUP BY scope),
         est AS (SELECT scope, hll_registers_set,
                        256 - hll_registers_set AS v,
                        {ALPHA_M2} / (CAST(256 - hll_registers_set AS DOUBLE) + s) AS raw
                 FROM agg)
    SELECT e.scope, e.hll_registers_set, x.exact_distinct,
           ROUND(CASE WHEN raw <= 640.0 AND v > 0
                      THEN 256.0 * ln(256.0 / CAST(v AS DOUBLE))
                      ELSE raw END, 4) AS estimate
    FROM est e JOIN exact x ON e.scope = x.scope
    """.replace("{HEX2}", _hexn("hh", 1, 2))
       .replace("{HEX10}", _hexn("hh", 3, 10))
       .replace("{ALPHA_M2}", repr(_HLL_ALPHA_M2)),
)
def hll_distinct_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct 3-gram-shingle count per source (+ the
    'ALL' scope in the same pipeline): md5-derived registers, so the
    oracle reproduces the registers AND the estimate bit for bit
    (the linear-counting small-range branch is pinned by a unit
    test; every scope here is past the 2.5m boundary). The plan is
    the textbook HLL shape: narrow shingle explode + rho map, one
    map-combinable (scope, register) MAX shuffle moving <= m rows
    per scope, registers merging by element-wise MAX across shards."""
    from data_frame_spark.operators import sketch as OpSketch2
    from data_frame_spark.operators.distributed import ensure_parallelism

    # guard, not a repartition: spreads the shingle transform only
    # when the scan arrives with fewer partitions than cores (a real
    # corpus arrives with thousands and passes through shuffle-free)
    docs = ensure_parallelism(t(spark, sf_dir, "documents"))
    sh = docs.select(
        "source",
        F.explode(OpText.word_shingles(F.col("text"), 3)).alias("shingle"),
    )
    return OpSketch2.hll_distinct(
        sh, "shingle", "source", hex_digits=2, include_overall=True
    )


@query(
    "label_centroids_embeddings",
    oracle="""
    WITH idx AS (SELECT label, embedding,
                        UNNEST(generate_series(1, len(embedding))) AS dim_idx
                 FROM embeddings),
         q AS (SELECT label, dim_idx,
                      CAST(FLOOR(CAST(embedding[dim_idx] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS qv
               FROM idx)
    SELECT label, CAST(dim_idx AS BIGINT) AS dim_idx,
           CAST(SUM(qv) AS DOUBLE) / CAST(COUNT(*) * 1000000 AS DOUBLE) AS centroid,
           CAST(COUNT(*) AS BIGINT) AS n_vectors
    FROM q GROUP BY label, dim_idx
    """,
)
def label_centroids_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (class prototypes): posexplode
    to (label, dim, quantized component) and ONE map-combinable
    groupBy(label, dim) shuffle — never collect_list(vector) per
    label, which would funnel a hot label through one task. The
    quantized integer sums make the distributed mean bit-identical
    to the single-node oracle."""
    emb = t(spark, sf_dir, "embeddings")
    out = OpSim.label_centroids(emb, "embedding", "label", scale=6)
    return out.select(
        "label", F.col("dim_idx").cast("long").alias("dim_idx"),
        "centroid", "n_vectors",
    )


@query(
    "temperature_mixture_weights",
    oracle="""
    WITH c AS (SELECT lang AS stratum, CAST(COUNT(*) AS BIGINT) AS n_docs
               FROM documents GROUP BY lang),
         t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total FROM c),
         q AS (SELECT stratum, n_docs,
                      CAST(n_docs AS DOUBLE) / CAST(total AS DOUBLE) AS p,
                      CAST(FLOOR(SQRT(CAST(n_docs AS DOUBLE) / CAST(total AS DOUBLE))
                                 * 1000000000.0 + 0.5) AS BIGINT) AS qs
               FROM c, t),
         d AS (SELECT CAST(SUM(qs) AS BIGINT) AS denom FROM q)
    SELECT stratum, n_docs, p,
           CAST(qs AS DOUBLE) / CAST(denom AS DOUBLE) AS weight,
           CAST((1000 * qs) // denom AS BIGINT) AS expected_docs
    FROM q, d
    """,
)
def temperature_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-mixing weights at temperature T=2 over the language
    strata (the mT5/UniMax balancing recipe): weight proportional to
    sqrt(p_lang), normalized over order-insensitive quantized
    integers, with the integer allocation of a 1000-doc budget. One
    map-combinable count shuffle; the rest runs on the |strata|-row
    aggregate."""
    docs = t(spark, sf_dir, "documents")
    return OpSample.temperature_weights(docs, "lang", temperature=2.0, budget=1000)


# ---------------------------------------------------------------------------
# round-6 additions
# ---------------------------------------------------------------------------


@query(
    "batch_sessions_events",
    oracle="""
    WITH e AS (SELECT user_id, event_id, epoch_ns(ts)//1000 AS ts_us, value
               FROM events),
    s AS (SELECT user_id, event_id, ts_us, value,
                 CASE WHEN lag(ts_us) OVER w IS NULL
                      OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS ns
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
    g AS (SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                  ROWS UNBOUNDED PRECEDING) AS session_seq
          FROM s)
    SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MIN(ts_us) AS start_us, MAX(ts_us) AS end_us,
           MAX(ts_us) - MIN(ts_us) AS duration_us,
           CAST(SUM(CAST(FLOOR(value * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS value_micro
    FROM g GROUP BY user_id, session_seq
    """,
)
def batch_sessions_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization with a 30-minute inactivity gap — the
    batch twin of session_windows_30m (streaming/windows.py): classic
    gaps-and-islands (lag-compare flags starts, running sum numbers
    sessions), rolled up to one row per session with exact integer
    micro-value sums. Both windows are partitioned by user_id — the
    per-user sort distributes at any scale, no global window."""
    from data_frame_spark.operators.window import sessionize

    ev = t(spark, sf_dir, "events")
    s = sessionize(
        ev, "ts_us", 1800 * 1000000, partition_by=["user_id"],
        order_tiebreak=["event_id"],
    )
    return s.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts_us").alias("start_us"),
        F.max("ts_us").alias("end_us"),
        (F.max("ts_us") - F.min("ts_us")).alias("duration_us"),
        F.sum(F.floor(F.col("value") * 1e6 + F.lit(0.5)).cast("long")).alias(
            "value_micro"
        ),
    )


@query(
    "fuzzy_linkage_parts",
    oracle="""
    WITH a AS (SELECT p_partkey, p_name, p_brand, p_type FROM part),
    pr AS (SELECT a.p_brand AS p_brand,
                  levenshtein(a.p_name, b.p_name) AS d
           FROM a JOIN a AS b
             ON a.p_brand = b.p_brand AND a.p_type = b.p_type
            AND a.p_partkey < b.p_partkey)
    SELECT p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN d <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_matches,
           CAST(MIN(d) AS BIGINT) AS min_dist,
           CAST(SUM(d) AS BIGINT) AS sum_dist
    FROM pr GROUP BY p_brand
    """,
)
def fuzzy_linkage_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy record linkage over part names
    (operators/linkage.py:blocked_fuzzy_pairs): candidate pairs
    sharing the (p_brand, p_type) blocking key are scored with
    JVM-side Levenshtein (identical algorithm in DuckDB — verified
    value-for-value), rolled up per brand: candidate count, <=2-edit
    matches, min and exact integer sum of distances. The
    entity-resolution primitive for short string keys where
    shingle-based near-dup (minhash/simhash) degenerates.

    100 TB shape: the pair space is pruned by blocking BEFORE any
    compare — a shuffle hash equi-join on the blocking key (pinned:
    both sides are corpus-proportional, never broadcastable), work
    ∝ Σ block², largest task bounded by the hottest block."""
    from data_frame_spark.operators import linkage as OpLink

    part = t(spark, sf_dir, "part")
    pairs = OpLink.blocked_fuzzy_pairs(
        part, "p_partkey", "p_name", ["p_brand", "p_type"], max_dist=2
    )
    return pairs.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.when(F.col("is_match"), 1).otherwise(0)).alias("n_matches"),
        F.min("dist").alias("min_dist"),
        F.sum("dist").alias("sum_dist"),
    )


@query(
    "dsir_importance_docs",
    oracle=rf"""
    WITH norm AS (SELECT doc_id, lang,
                         string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS tk
                  FROM documents),
    tok AS (SELECT doc_id, (lang = 'en') AS t, UNNEST(tk) AS token FROM norm),
    bk AS (SELECT doc_id, t, ({_sql_h60("token")}) % 256 AS b FROM tok),
    cnt AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS c_raw,
                   CAST(SUM(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS c_t
            FROM bk GROUP BY b),
    tot AS (SELECT CAST(SUM(c_raw) AS BIGINT) AS n_raw,
                   CAST(SUM(c_t) AS BIGINT) AS n_t
            FROM cnt),
    ratio AS (SELECT b,
                     CAST(FLOOR((ln(CAST(c_t + 1 AS DOUBLE) / CAST(n_t + 256 AS DOUBLE))
                                 - ln(CAST(c_raw + 1 AS DOUBLE) / CAST(n_raw + 256 AS DOUBLE)))
                                * 1000000.0 + 0.5) AS BIGINT) AS r
              FROM cnt CROSS JOIN tot)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(r) AS BIGINT) AS weight_micro
    FROM bk JOIN ratio USING (b) GROUP BY doc_id
    """,
)
def dsir_importance_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, public): hashed
    unigram features over 256 buckets; each document scores the
    micro-nat log-likelihood ratio of its tokens under the target
    domain (lang='en') vs the raw corpus, Laplace-smoothed. The
    selection signal for 'give me more data that looks like X';
    compose with weighted_sample for the resampling step. Bounded
    bucket domain — the token stream never shuffles on a vocabulary
    key."""
    from data_frame_spark.operators import sampling as OpSamp

    docs = t(spark, sf_dir, "documents")
    return OpSamp.dsir_importance(
        docs, "text", "doc_id", target=(F.col("lang") == "en"), buckets=256
    )


# ---------------------------------------------------------------------------
# round-9 additions
# ---------------------------------------------------------------------------


# shared CTE chain: the exact integer-Lloyd IVF fit (k=8 md5-ordered
# seeds, 2 iterations, floor-mean updates, empty cells keep previous)
# ending in c2 = (cid, micro-int centroid list). Used by the centroid
# query and the IVF ANN top-k built on the same quantizer.
_IVF_CTE = """
    WITH v AS (SELECT vec_id,
                      list_transform(embedding,
                          x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS vq
               FROM embeddings),
    seeds AS (SELECT vq, ROW_NUMBER() OVER
                        (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
              FROM v),
    c0 AS (SELECT CAST(rn - 1 AS INT) AS cid, vq AS c FROM seeds WHERE rn <= 8),
    a1 AS (SELECT v.vec_id, v.vq, c.cid,
                  ROW_NUMBER() OVER (PARTITION BY v.vec_id
                      ORDER BY list_dot_product(v.vq, c.c) DESC, c.cid) AS rn
           FROM v CROSS JOIN c0 c),
    asn1 AS (SELECT vec_id, vq, cid FROM a1 WHERE rn = 1),
    m1 AS (SELECT cid, dim,
                  CAST(FLOOR(CAST(SUM(qv) AS DOUBLE) / COUNT(*)) AS BIGINT) AS val
           FROM (SELECT cid, UNNEST(generate_series(1, len(vq))) AS dim,
                        UNNEST(vq) AS qv
                 FROM asn1)
           GROUP BY cid, dim),
    c0d AS (SELECT cid, UNNEST(generate_series(1, len(c))) AS dim,
                   UNNEST(c) AS val
            FROM c0),
    c1 AS (SELECT cid, list(COALESCE(m1.val, c0d.val) ORDER BY dim) AS c
           FROM c0d LEFT JOIN m1 USING (cid, dim) GROUP BY cid),
    a2 AS (SELECT v.vec_id, v.vq, c.cid,
                  ROW_NUMBER() OVER (PARTITION BY v.vec_id
                      ORDER BY list_dot_product(v.vq, c.c) DESC, c.cid) AS rn
           FROM v CROSS JOIN c1 c),
    asn2 AS (SELECT vec_id, vq, cid FROM a2 WHERE rn = 1),
    m2 AS (SELECT cid, dim,
                  CAST(FLOOR(CAST(SUM(qv) AS DOUBLE) / COUNT(*)) AS BIGINT) AS val
           FROM (SELECT cid, UNNEST(generate_series(1, len(vq))) AS dim,
                        UNNEST(vq) AS qv
                 FROM asn2)
           GROUP BY cid, dim),
    c1d AS (SELECT cid, UNNEST(generate_series(1, len(c))) AS dim,
                   UNNEST(c) AS val
            FROM c1),
    c2 AS (SELECT cid, list(COALESCE(m2.val, c1d.val) ORDER BY dim) AS c
           FROM c1d LEFT JOIN m2 USING (cid, dim) GROUP BY cid)
"""


# PQ fit/encode replay on the shared v/seeds CTEs, renamed p* so it
# composes with _IVF_CTE inside ONE oracle (the ivf_family pq facet):
# the same m=2/k=8/one-Lloyd-iteration pipeline as the
# pq_adc_topk_embeddings oracle, ending in pc1 = per-subspace
# codebooks and penc = every vector's PQ codes.
_PQ_CTE = """
    , pc0 AS (SELECT 0 AS j, CAST(rn - 1 AS INT) AS cid, vq[1:32] AS c
              FROM seeds WHERE rn <= 8
              UNION ALL
              SELECT 1, CAST(rn - 1 AS INT), vq[33:64] FROM seeds WHERE rn <= 8),
    psv AS (SELECT vec_id, 0 AS j, vq[1:32] AS s FROM v
            UNION ALL
            SELECT vec_id, 1, vq[33:64] FROM v),
    pad AS (SELECT psv.vec_id, psv.j, c.cid,
                   CAST(SUM((psv.s[t.i] - c.c[t.i]) * (psv.s[t.i] - c.c[t.i]))
                        AS BIGINT) AS d2
            FROM psv JOIN pc0 c ON c.j = psv.j,
                 UNNEST(generate_series(1, 32)) t(i)
            GROUP BY 1, 2, 3),
    pasn AS (SELECT vec_id, j, cid FROM (
               SELECT vec_id, j, cid,
                      ROW_NUMBER() OVER (PARTITION BY vec_id, j
                                         ORDER BY d2, cid) AS rn
               FROM pad)
             WHERE rn = 1),
    pmsum AS (SELECT a.j, a.cid, t.i AS dim,
                     CAST(FLOOR(CAST(SUM(psv.s[t.i]) AS DOUBLE) / COUNT(*))
                          AS BIGINT) AS val
              FROM pasn a JOIN psv ON psv.vec_id = a.vec_id AND psv.j = a.j,
                   UNNEST(generate_series(1, 32)) t(i)
              GROUP BY 1, 2, 3),
    pc0d AS (SELECT j, cid, UNNEST(generate_series(1, 32)) AS dim,
                    UNNEST(c) AS val
             FROM pc0),
    pc1 AS (SELECT pc0d.j, pc0d.cid,
                   list(COALESCE(m.val, pc0d.val) ORDER BY dim) AS c
            FROM pc0d LEFT JOIN pmsum m USING (j, cid, dim)
            GROUP BY 1, 2),
    pencd AS (SELECT psv.vec_id, psv.j, c.cid,
                     CAST(SUM((psv.s[t.i] - c.c[t.i]) * (psv.s[t.i] - c.c[t.i]))
                          AS BIGINT) AS d2
              FROM psv JOIN pc1 c ON c.j = psv.j,
                   UNNEST(generate_series(1, 32)) t(i)
              GROUP BY 1, 2, 3),
    penc AS (SELECT vec_id, j, cid FROM (
               SELECT vec_id, j, cid,
                      ROW_NUMBER() OVER (PARTITION BY vec_id, j
                                         ORDER BY d2, cid) AS rn
               FROM pencd)
             WHERE rn = 1)
"""


# final cell assignment shared by the IVF ANN search and semantic
# dedup oracles: float centroids = micro/1e6 (identical IEEE division
# both engines), assignment dots quantized at 1e9 with the
# (dot DESC, cid) tie-break — the SQL twin of _argmin_centroid over
# ivf_fit_centroids output.
_IVF_ASSIGN_CTE = """
    , cf AS (SELECT cid, list_transform(c, x -> CAST(x AS DOUBLE) / 1000000.0) AS f
             FROM c2),
    ad AS (SELECT e.vec_id, cf.cid,
                  SUM(CAST(FLOOR(CAST(e.embedding[i] AS DOUBLE) * cf.f[i]
                                 * 1000000000.0 + 0.5) AS BIGINT)) AS dq
           FROM embeddings e, cf, UNNEST(generate_series(1, 64)) t(i)
           GROUP BY 1, 2),
    bcell AS (SELECT vec_id, cid FROM (
                SELECT vec_id, cid,
                       ROW_NUMBER() OVER (PARTITION BY vec_id
                                          ORDER BY dq DESC, cid) AS rn
                FROM ad)
              WHERE rn = 1)
"""


@query(
    "ivf_family",
    oracle=_IVF_CTE
    + _IVF_ASSIGN_CTE
    + _PQ_CTE
    + f"""
    , qprob AS (SELECT vec_id AS query_id, cid FROM (
                SELECT vec_id, cid,
                       ROW_NUMBER() OVER (PARTITION BY vec_id
                                          ORDER BY dq DESC, cid) AS rn
                FROM ad WHERE vec_id < 3)
              WHERE rn <= 2),
    cand AS (SELECT p.query_id, b.vec_id FROM qprob p JOIN bcell b USING (cid)),
    pairs AS (SELECT c.query_id, c.vec_id, b.embedding AS be, qe.embedding AS qe
              FROM cand c JOIN embeddings b ON b.vec_id = c.vec_id
                          JOIN embeddings qe ON qe.vec_id = c.query_id),
    flat AS (SELECT query_id, vec_id, UNNEST(be) AS bv, UNNEST(qe) AS qv
             FROM pairs),
    dots AS (SELECT query_id, vec_id,
                    {_DOTQ.format(a='bv', b='qv')} AS dq,
                    {_DOTQ.format(a='bv', b='bv')} AS nb,
                    {_DOTQ.format(a='qv', b='qv')} AS nq
             FROM flat GROUP BY 1, 2),
    scored AS (SELECT query_id, vec_id,
                      (dq/1000000000.0)
                        / (SQRT(nb/1000000000.0) * SQRT(nq/1000000000.0)) AS cosine
               FROM dots),
    r AS (SELECT query_id, vec_id, cosine,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, vec_id ASC) AS rank
          FROM scored),
    padc AS (SELECT qs.vec_id AS query_id, e.vec_id,
                    CAST(SUM((qs.s[t.i] - c.c[t.i]) * (qs.s[t.i] - c.c[t.i]))
                         AS BIGINT) AS adc_dist_micro2
             FROM psv qs
             JOIN cand ca ON ca.query_id = qs.vec_id
             JOIN penc e ON e.vec_id = ca.vec_id AND e.j = qs.j
             JOIN pc1 c ON c.j = e.j AND c.cid = e.cid,
                  UNNEST(generate_series(1, 32)) t(i)
             GROUP BY 1, 2),
    pr AS (SELECT query_id, vec_id, adc_dist_micro2,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY adc_dist_micro2, vec_id) AS rank
           FROM padc),
    centout AS (SELECT cid, CAST(dim - 1 AS INT) AS dim, val AS val_micro
                FROM (SELECT cid, UNNEST(generate_series(1, len(c))) AS dim,
                             UNNEST(c) AS val
                      FROM c2))
    SELECT 'centroids' AS facet, cid, dim, val_micro,
           CAST(NULL AS BIGINT) AS query_id, CAST(NULL AS BIGINT) AS vec_id,
           CAST(NULL AS DOUBLE) AS cosine, CAST(NULL AS BIGINT) AS rank,
           CAST(NULL AS BIGINT) AS adc_dist_micro2
    FROM centout
    UNION ALL
    SELECT 'ann', CAST(NULL AS INT), CAST(NULL AS INT), CAST(NULL AS BIGINT),
           query_id, vec_id, cosine, rank, CAST(NULL AS BIGINT)
    FROM r WHERE rank <= 5
    UNION ALL
    SELECT 'pq', CAST(NULL AS INT), CAST(NULL AS INT), CAST(NULL AS BIGINT),
           query_id, vec_id, CAST(NULL AS DOUBLE), rank, adc_dist_micro2
    FROM pr WHERE rank <= 5
    """,
)
def ivf_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF quantizer family on ONE shared coarse fit — three
    facets (round-12 merge of ivf_centroids_embeddings +
    ivf_ann_topk_embeddings, plus the round-11 ivf_pq_topk operator's
    first driver row):

    - 'centroids': the integer-Lloyd coarse-quantizer fit (k=8, 2
      iterations) emitted as (cid, dim, micro-int component) rows —
      each Lloyd step is one narrow integer-dot assignment pass plus
      one map-combinable groupBy-sum; only k x dim values ever reach
      the driver, so the fit scales to any corpus while staying
      bit-identical across partitionings.
    - 'ann': IVF approximate top-k (operators/similarity.py
      ivf_topk) — the 3-vector probe batch scans only its 2 nearest
      of 8 cells; candidate count scales with probed-cell size, not
      corpus size; the probe batch (an operational constant) is the
      ONLY broadcast side.
    - 'pq': IVF-PQ composed search (ivf_pq_topk, the FAISS IVFPQ
      shape) — the same probed cells scanned by exact integer
      asymmetric distance over PQ-COMPRESSED codes (m=2 ints per
      candidate instead of 64 floats); scoring pinned equal to
      pq_adc_topk on the probed cells by test_textops.

    The quantizer is fit ONCE (micro integers) and shared by all
    three facets via the operators' centroids= parameter — the float
    form is micro/1e6, identical IEEE doubles on every engine. The
    oracle replays everything: the shared integer-Lloyd CTE,
    1e9-quantized assignment dots with (dot DESC, cid) tie-break, the
    exact-cosine candidate scoring, and the renamed p* PQ fit/encode
    replay joined to the SAME probed-candidate set."""
    emb = t(spark, sf_dir, "embeddings")
    cent_micro = OpSim.ivf_fit_centroids(
        emb, dim=64, k=8, iterations=2, micro=True
    )
    cent_float = [[c / 1e6 for c in row] for row in cent_micro]
    rows = [
        (cid, d, int(v))
        for cid, row in enumerate(cent_micro)
        for d, v in enumerate(row)
    ]
    cent_df = local_frame(spark, rows, "cid int, dim int, val_micro bigint")
    probe = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    ann = OpSim.ivf_topk(
        emb, probe, dim=64, k=5, n_cells=8, n_probe=2, centroids=cent_float
    )
    books = OpSim.pq_fit(emb, dim=64, m=2, k=8, iterations=1)
    pq = OpSim.ivf_pq_topk(
        emb, probe, dim=64, codebooks=books, k=5, n_cells=8, n_probe=2,
        centroids=cent_float,
    )
    c_leg = cent_df.select(
        F.lit("centroids").alias("facet"), "cid", "dim", "val_micro"
    )
    a_leg = ann.select(
        F.lit("ann").alias("facet"), "query_id", "vec_id", "cosine",
        F.col("rank").cast("long").alias("rank"),
    )
    p_leg = pq.select(
        F.lit("pq").alias("facet"), "query_id", "vec_id",
        F.col("rank").cast("long").alias("rank"), "adc_dist_micro2",
    )
    return c_leg.unionByName(a_leg, allowMissingColumns=True).unionByName(
        p_leg, allowMissingColumns=True
    )


@query(
    "semantic_dedup_embeddings",
    oracle=_IVF_CTE
    + _IVF_ASSIGN_CTE
    + f"""
    , pr AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
             FROM bcell a JOIN bcell b
               ON a.cid = b.cid AND a.vec_id < b.vec_id),
    pe AS (SELECT pr.id_a, pr.id_b,
                  UNNEST(ea.embedding) AS av, UNNEST(eb.embedding) AS bv
           FROM pr JOIN embeddings ea ON ea.vec_id = pr.id_a
                   JOIN embeddings eb ON eb.vec_id = pr.id_b),
    dots AS (SELECT id_a, id_b,
                    {_DOTQ.format(a='av', b='bv')} AS dq,
                    {_DOTQ.format(a='av', b='av')} AS na,
                    {_DOTQ.format(a='bv', b='bv')} AS nb
             FROM pe GROUP BY 1, 2),
    scored AS (SELECT id_a, id_b,
                      (dq/1000000000.0)
                        / (SQRT(na/1000000000.0) * SQRT(nb/1000000000.0)) AS cosine
               FROM dots),
    dups AS (SELECT id_b AS vec_id, COUNT(*) AS n_dups
             FROM scored WHERE cosine >= 0.4 GROUP BY 1)
    SELECT b.vec_id, b.cid AS cell, d.n_dups IS NULL AS kept,
           CAST(COALESCE(d.n_dups, 0) AS BIGINT) AS n_dups
    FROM bcell b LEFT JOIN dups d USING (vec_id)
    """,
)
def semantic_dedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication
    (operators/similarity.py semantic_dedup; Abbas et al. 2023,
    arXiv:2303.09540 — a net-new training-data operator, no reference
    counterpart): the corpus partitions into 8 integer-Lloyd cells,
    exact cosines are computed ONLY within a cell (Σ|cell|² work,
    never corpus² — n_cells scales with the corpus to hold cell size
    constant), and every vector with a lower-id cell-mate at cosine
    >= 0.4 is dropped (keep-first; 0.4 is the demonstration threshold
    for the fixture's near-uniform random embeddings, as in the other
    embedding-dedup rows — production near-dups sit at ~0.95 where
    chance pairs vanish). One row per vector: (vec_id, cell, kept,
    n_dups). The oracle replays the whole pipeline: the shared
    integer-Lloyd centroid CTE, the shared 1e9-quantized assignment
    with (dot DESC, cid) tie-break, and the exact quantized cosine on
    within-cell pairs."""
    return OpSim.semantic_dedup(
        t(spark, sf_dir, "embeddings"), dim=64, threshold=0.4, n_cells=8,
        iterations=2,
    )


@query(
    "pq_adc_topk_embeddings",
    oracle="""
    WITH v AS (SELECT vec_id,
                      list_transform(embedding,
                          x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS vq
               FROM embeddings),
    seeds AS (SELECT vq, ROW_NUMBER() OVER
                        (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
              FROM v),
    c0 AS (SELECT 0 AS j, CAST(rn - 1 AS INT) AS cid, vq[1:32] AS c
           FROM seeds WHERE rn <= 8
           UNION ALL
           SELECT 1, CAST(rn - 1 AS INT), vq[33:64] FROM seeds WHERE rn <= 8),
    sv AS (SELECT vec_id, 0 AS j, vq[1:32] AS s FROM v
           UNION ALL
           SELECT vec_id, 1, vq[33:64] FROM v),
    ad AS (SELECT sv.vec_id, sv.j, c.cid,
                  CAST(SUM((sv.s[t.i] - c.c[t.i]) * (sv.s[t.i] - c.c[t.i]))
                       AS BIGINT) AS d2
           FROM sv JOIN c0 c ON c.j = sv.j,
                UNNEST(generate_series(1, 32)) t(i)
           GROUP BY 1, 2, 3),
    asn AS (SELECT vec_id, j, cid FROM (
              SELECT vec_id, j, cid,
                     ROW_NUMBER() OVER (PARTITION BY vec_id, j
                                        ORDER BY d2, cid) AS rn
              FROM ad)
            WHERE rn = 1),
    msum AS (SELECT a.j, a.cid, t.i AS dim,
                    CAST(FLOOR(CAST(SUM(sv.s[t.i]) AS DOUBLE) / COUNT(*))
                         AS BIGINT) AS val
             FROM asn a JOIN sv ON sv.vec_id = a.vec_id AND sv.j = a.j,
                  UNNEST(generate_series(1, 32)) t(i)
             GROUP BY 1, 2, 3),
    c0d AS (SELECT j, cid, UNNEST(generate_series(1, 32)) AS dim,
                   UNNEST(c) AS val
            FROM c0),
    c1 AS (SELECT c0d.j, c0d.cid,
                  list(COALESCE(m.val, c0d.val) ORDER BY dim) AS c
           FROM c0d LEFT JOIN msum m USING (j, cid, dim)
           GROUP BY 1, 2),
    encd AS (SELECT sv.vec_id, sv.j, c.cid,
                    CAST(SUM((sv.s[t.i] - c.c[t.i]) * (sv.s[t.i] - c.c[t.i]))
                         AS BIGINT) AS d2
             FROM sv JOIN c1 c ON c.j = sv.j,
                  UNNEST(generate_series(1, 32)) t(i)
             GROUP BY 1, 2, 3),
    enc AS (SELECT vec_id, j, cid FROM (
              SELECT vec_id, j, cid,
                     ROW_NUMBER() OVER (PARTITION BY vec_id, j
                                        ORDER BY d2, cid) AS rn
              FROM encd)
            WHERE rn = 1),
    adc AS (SELECT qs.vec_id AS query_id, e.vec_id,
                   CAST(SUM((qs.s[t.i] - c.c[t.i]) * (qs.s[t.i] - c.c[t.i]))
                        AS BIGINT) AS adc_dist_micro2
            FROM sv qs
            JOIN enc e ON e.j = qs.j
            JOIN c1 c ON c.j = e.j AND c.cid = e.cid,
                 UNNEST(generate_series(1, 32)) t(i)
            WHERE qs.vec_id < 3
            GROUP BY 1, 2),
    r AS (SELECT query_id, vec_id, adc_dist_micro2,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY adc_dist_micro2, vec_id) AS rank
          FROM adc)
    SELECT query_id, vec_id, adc_dist_micro2, rank FROM r WHERE rank <= 5
    """,
)
def pq_adc_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN end-to-end (operators/similarity.py
    pq_fit/pq_encode/pq_adc_topk — a net-new scale surface, no
    reference counterpart): m=2 codebooks of 8 centroids fit with one
    min-L2 integer-Lloyd step per subspace, every vector compressed
    to 2 codes (a ~128x shrink of a 64-dim float32 vector), and the
    3-probe query batch scanning the COMPRESSED codes with exact
    integer asymmetric distances. At 100 TB the corpus never holds
    raw vectors in the search path — codes are m small ints per row —
    the fit collects only m*k*(dim/m) integers, encode is a narrow
    zero-shuffle pass, and ranking is a per-query WindowGroupLimit-
    pruned row_number. The oracle replays the whole pipeline in SQL:
    same md5-ordered seeds, min-(d2, cid) assignments, floor means,
    and integer ADC sums."""
    emb = t(spark, sf_dir, "embeddings")
    books = OpSim.pq_fit(emb, dim=64, m=2, k=8, iterations=1)
    codes = OpSim.pq_encode(emb, books)
    probe = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return OpSim.pq_adc_topk(codes, probe, books, k=5)


_PREP_TMP_REGISTERED: set[str] = set()


def _prep_tmp_dir(name: str, sf_dir: str, clean: bool = False) -> str:
    """Per-process temp path for the round-trip rows: a fixed name
    would race a concurrent run on the same fixture (overwrite deletes
    part files under the other session's lazy scan); within one
    process the path is stable so returned DataFrames stay readable
    after the call; atexit removes it at interpreter exit so repeated
    driver rounds don't accumulate directories. ``clean=True``
    pre-clears the directory so stale files from an earlier fixture
    shape can't leak into glob-based readers."""
    import atexit
    import shutil
    import tempfile

    tag = "".join(ch if ch.isalnum() else "_" for ch in sf_dir)
    path = os.path.join(tempfile.gettempdir(), f"dfs_{name}{tag}_{os.getpid()}")
    if clean:
        shutil.rmtree(path, ignore_errors=True)
    # register the rmtree ONCE per path: tests call this many times in
    # one process, and stacking a duplicate handler per call grows the
    # atexit table for the life of the interpreter
    if path not in _PREP_TMP_REGISTERED:
        _PREP_TMP_REGISTERED.add(path)
        atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


@query(
    "csv_roundtrip_lineitem",
    oracle="""
    SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
           l_quantity, l_extendedprice, l_discount,
           l_returnflag, l_linestatus
    FROM lineitem WHERE l_orderkey % 32 = 0
    """,
)
def csv_roundtrip_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end CSV write -> read round-trip (df-write/csv
    csv.rkt:40-87 + df-read/csv csv.rkt:275-280): a lineitem slice
    goes through the distributed CSV writer and comes back through
    the reader with numeric inference; the oracle reads the SAME
    slice straight from parquet, so any loss in the text round-trip
    (double formatting, header handling, NA cells) breaks the hash.
    Doubles survive exactly: the writer emits Java's round-trip
    decimal form and the reader's double cast parses it back to the
    same bits. Both legs are distributed (parallel part files in,
    distributed scan out) — the round-trip works at any scale."""
    path = _prep_tmp_dir("csv_roundtrip", sf_dir)
    cols = [
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_discount", "l_returnflag", "l_linestatus",
    ]
    sl = t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 32 == 0).select(cols)
    CSVSrc.write_csv(sl, path)
    back = CSVSrc.read_csv(spark, path)
    return back.select(
        F.col("l_orderkey").cast("long").alias("l_orderkey"),
        F.col("l_linenumber").cast("long").alias("l_linenumber"),
        F.col("l_quantity").cast("double").alias("l_quantity"),
        F.col("l_extendedprice").cast("double").alias("l_extendedprice"),
        F.col("l_discount").cast("double").alias("l_discount"),
        "l_returnflag",
        "l_linestatus",
    )


# shared synthetic-track derivation (gpx/tcx round-trips + haversine):
# integer-arithmetic lat/lon from (user_id, event_id) — exact identical
# doubles on both engines. ONE definition; the oracles interpolate the
# SQL twins so the three track queries can never drift apart.
_TRACK_LAT_SQL = "CAST((user_id * 7 + event_id % 97) % 17000 AS DOUBLE)/100.0 - 85.0"
_TRACK_LON_SQL = "CAST((user_id * 13 + event_id % 89) % 35000 AS DOUBLE)/100.0 - 175.0"


def _track_lat_lon() -> tuple:
    lat = (
        ((F.col("user_id") * 7 + F.col("event_id") % 97) % 17000).cast("double")
        / F.lit(100.0)
        - F.lit(85.0)
    )
    lon = (
        ((F.col("user_id") * 13 + F.col("event_id") % 89) % 35000).cast("double")
        / F.lit(100.0)
        - F.lit(175.0)
    )
    return lat, lon


@query(
    "roundtrip_family",
    oracle=f"""
    SELECT 'gpx' AS facet,
           CAST((epoch_ns(ts)//1000)//1000000 AS DOUBLE) AS "timestamp",
           {_TRACK_LAT_SQL} AS lat,
           {_TRACK_LON_SQL} AS lon,
           value AS alt,
           CAST(NULL AS DOUBLE) AS hr,
           CAST(NULL AS DOUBLE) AS dst
    FROM events WHERE event_id % 101 = 0
    UNION ALL
    SELECT 'tcx' AS facet,
           CAST((epoch_ns(ts)//1000)//1000000 AS DOUBLE) AS "timestamp",
           {_TRACK_LAT_SQL} AS lat,
           {_TRACK_LON_SQL} AS lon,
           value AS alt,
           CAST(user_id % 150 + 40 AS DOUBLE) AS hr,
           CAST(event_id AS DOUBLE) AS dst
    FROM events WHERE event_id % 101 = 0
    """,
)
def roundtrip_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GPX and TCX write -> read round-trips in ONE oracle row
    (round-11 merge of gpx_roundtrip_events + tcx_roundtrip_events;
    serializers/parsers unchanged — both legs share the same events
    slice, so the two facets differ only in format and the TCX-only
    hr/dst channels, NULL on the gpx facet).

    'gpx' facet — df-write/gpx (gpx.rkt:161-231) + df-read/gpx
    (gpx.rkt:393-446) + the ISO-8601 <-> epoch-seconds pair
    (xml-common.rkt:57-78 / gpx.rkt:51-60): a deterministic synthetic
    track goes out through the XML writer and back through the
    parser. 'tcx' facet — df-read/tcx (tcx.rkt:199-281) over the
    shared tcx_xml serializer, additionally exercising Position,
    AltitudeMeters, HeartRateBpm/Value and DistanceMeters parsing.
    The oracle computes both tracks straight from the table, so any
    loss in either text round-trip (repr double formatting, timestamp
    formatting/parsing, NULL-altitude handling) breaks the hash.
    Timestamps are pre-floored to whole seconds — the formats'
    <time> resolution — so both round-trips are exact by
    construction. GPX/TCX are single-activity formats: the writers
    are deliberate driver-side sinks (the distributed bulk paths are
    gpx.py/tcx.py parse_many, driven by xml_corpus_family)."""
    from data_frame_spark.sources import gpx as GPXSrc
    from data_frame_spark.sources import tcx as TCXSrc

    ev = t(spark, sf_dir, "events").where(F.col("event_id") % 101 == 0)
    _lat, _lon = _track_lat_lon()
    pts = ev.select(
        F.expr("ts_us div 1000000").cast("double").alias("timestamp"),
        _lat.alias("lat"),
        _lon.alias("lon"),
        F.col("value").alias("alt"),
        (F.col("user_id") % 150 + 40).cast("double").alias("hr"),
        F.col("event_id").cast("double").alias("dst"),
    )
    # ONE scan feeds both serializer legs: collect the ordered slice
    # once, then re-wrap it as a driver-local relation for write_gpx
    # (so the df-write/gpx sink still runs end-to-end — its
    # toLocalIterator walks a LocalTableScan, not a second parquet
    # job) and feed tcx_xml straight from the same rows
    rows = pts.orderBy("timestamp").collect()
    local = spark.createDataFrame(rows, pts.schema) if rows else pts.limit(0)
    gxml = GPXSrc.write_gpx(
        Frame(local.select("timestamp", "lat", "lon", "alt"), order_by=["timestamp"]),
        name="events-track",
    )
    gback = GPXSrc.read_gpx(spark, gxml)
    txml = TCXSrc.tcx_xml(
        (
            (r["timestamp"], r["lat"], r["lon"], r["alt"], r["hr"], r["dst"])
            for r in rows
        ),
        sport="Other",
        act_id="events-track",
    )
    tback = TCXSrc.read_tcx(spark, txml)

    track = ("timestamp", "lat", "lon", "alt", "hr", "dst")

    def leg(df: DataFrame, facet: str, cols: tuple) -> DataFrame:
        # Columns NOT in ``cols`` stay out even when the reader
        # produced them: read_gpx derives a cumulative-haversine dst
        # when absent — real reader behavior, but it is the
        # haversine_track_events row's job, not this format-fidelity
        # row's (trig would reintroduce the libm ULP hazard here).
        return df.select(
            F.lit(facet).alias("facet"), *[c for c in cols if c in df.columns]
        )

    out = leg(gback.df, "gpx", track[:4]).unionByName(
        leg(tback.df, "tcx", track), allowMissingColumns=True
    )
    # the readers drop never-present series (an all-NULL alt slice,
    # or every column on an empty slice) — reinstate them as NULL so
    # the schema holds regardless of fixture
    return out.select(
        "facet",
        *[
            F.col(c) if c in out.columns else F.lit(None).cast("double").alias(c)
            for c in track
        ],
    )


@query(
    "haversine_track_events",
    oracle=f"""
    WITH pts AS (SELECT user_id, event_id,
                        {_TRACK_LAT_SQL} AS lat,
                        {_TRACK_LON_SQL} AS lon
                 FROM events WHERE event_id % 101 = 0),
    lagged AS (SELECT user_id, event_id, lat, lon,
                      LAG(lat) OVER w AS plat, LAG(lon) OVER w AS plon
               FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY event_id)),
    d AS (SELECT user_id, event_id,
                 2.0 * 6371000.0 * ASIN(SQRT(
                     SIN((RADIANS(lat) - RADIANS(plat))/2)
                       * SIN((RADIANS(lat) - RADIANS(plat))/2)
                     + COS(RADIANS(plat)) * COS(RADIANS(lat))
                       * SIN((RADIANS(lon) - RADIANS(plon))/2)
                       * SIN((RADIANS(lon) - RADIANS(plon))/2)
                 )) AS dist
          FROM lagged WHERE plat IS NOT NULL)
    SELECT user_id, event_id, CAST(FLOOR(dist) AS BIGINT) AS dist_m
    FROM d
    """,
)
def haversine_track_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Great-circle step distances (haversine, xml-common.rkt:32-55 /
    functions/geo.py) between consecutive points of the synthetic
    per-user track derived from events: one whole-meter distance per
    (user, step). Whole-meter flooring absorbs libm ULP differences
    between engines (JVM vs DuckDB trig agree to ~1e-10 m on ~1e7 m
    values — ten orders of magnitude inside the bucket). The lag
    window partitions by user_id, so the track building distributes
    at any scale — never a global-order window."""
    from data_frame_spark.functions.geo import haversine
    from pyspark.sql import Window as W

    ev = t(spark, sf_dir, "events").where(F.col("event_id") % 101 == 0)
    _lat, _lon = _track_lat_lon()
    pts = ev.select(
        "user_id",
        "event_id",
        _lat.alias("lat"),
        _lon.alias("lon"),
    )
    w = W.partitionBy("user_id").orderBy("event_id")
    stepped = pts.select(
        "user_id",
        "event_id",
        haversine(
            F.lag("lat").over(w), F.lag("lon").over(w), F.col("lat"), F.col("lon")
        ).alias("dist"),
    )
    return stepped.where(F.col("dist").isNotNull()).select(
        "user_id", "event_id", F.floor(F.col("dist")).cast("long").alias("dist_m")
    )


# Oracle twins of the two xml_corpus_family legs.
_GPX_CORPUS_ORACLE = f"""
    SELECT user_id,
           COUNT(*) AS n_points,
           CAST(SUM(CAST(FLOOR(({_TRACK_LAT_SQL}) * 1000000.0 + 0.5) AS BIGINT))
                AS BIGINT) AS lat_micro_sum,
           CAST(SUM(CAST(FLOOR(({_TRACK_LON_SQL}) * 1000000.0 + 0.5) AS BIGINT))
                AS BIGINT) AS lon_micro_sum,
           COUNT(value) AS n_ele,
           CAST(SUM(CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
             AS ele_micro_sum,
           MIN(CAST((epoch_ns(ts)//1000)//1000000 AS BIGINT)) AS t_min,
           MAX(CAST((epoch_ns(ts)//1000)//1000000 AS BIGINT)) AS t_max
    FROM events WHERE event_id % 3 = 0
    GROUP BY user_id
    """


_TCX_CORPUS_ORACLE = f"""
    SELECT user_id,
           COUNT(*) AS n_points,
           CAST(SUM(CAST(FLOOR(({_TRACK_LAT_SQL}) * 1000000.0 + 0.5) AS BIGINT))
                AS BIGINT) AS lat_micro_sum,
           CAST(SUM(CAST(FLOOR(({_TRACK_LON_SQL}) * 1000000.0 + 0.5) AS BIGINT))
                AS BIGINT) AS lon_micro_sum,
           COUNT(value) AS n_alt,
           CAST(SUM(CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
             AS alt_micro_sum,
           CAST(SUM(CAST(FLOOR(CAST(user_id % 150 + 40 AS DOUBLE) * 1000000.0 + 0.5)
                    AS BIGINT)) AS BIGINT) AS hr_micro_sum,
           CAST(SUM(CAST(FLOOR(CAST(event_id AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))
                AS BIGINT) AS dst_micro_sum,
           MIN(CAST((epoch_ns(ts)//1000)//1000000 AS BIGINT)) AS t_min,
           MAX(CAST((epoch_ns(ts)//1000)//1000000 AS BIGINT)) AS t_max
    FROM events WHERE event_id % 3 = 1
    GROUP BY user_id
    """


def _xml_corpus_leg(spark: SparkSession, sf_dir: str, fmt: str) -> DataFrame:
    """One DISTRIBUTED XML bulk-ingest path end-to-end, ``fmt``
    'gpx' (df-read/gpx over many files, gpx.rkt:393-446) or 'tcx'
    (df-read/tcx/multiple, tcx.rkt:249-281); Spark side: the
    format's ``parse_many`` — mapInPandas over (id, xml) rows, one
    parser instance per Arrow batch. The GPX leg reads the event
    slice %3==0, the TCX leg the disjoint %3==1 slice with the extra
    HeartRateBpm/Value and DistanceMeters channels.

    One synthetic document per user is built WITHOUT leaving the
    cluster: a JVM-side ``array_sort(collect_list(struct(...)))``
    aggregate assembles each user's time-sorted track, and one
    batched mapInPandas pass serializes it through the same writer
    the single-activity sink uses (``track_xml`` / ``tcx_xml``: repr
    doubles + whole-second ISO-8601 timestamps = exact by
    construction), then the whole corpus flows back through
    ``parse_many`` and aggregates per user — point count,
    micro-quantized sums of every parsed channel (order-independent
    integer sums), and the time span. (A per-user applyInPandas
    group would frame each group as its own Arrow batch + pandas
    frame: that machinery alone cost 2.46 s at sf0.1 with a TRIVIAL
    body vs 0.57 s for this batched shape. array_sort ties on equal
    timestamps break by the remaining struct fields; only the
    intermediate XML byte order can depend on that, never the parsed
    multiset.) The oracle computes identical aggregates straight from
    the events table, so any loss anywhere in serialize -> parse ->
    explode (attribute formatting, NULL-altitude handling, timestamp
    parsing, source_id threading) breaks the hash. At 100 TB both
    stages are one narrow pass each: documents arrive
    pre-partitioned, nothing but the final users-sized aggregate
    shuffles; the collect_list is bounded by the per-user track."""
    from data_frame_spark.sources import gpx as GPXSrc
    from data_frame_spark.sources import tcx as TCXSrc
    import pandas as pd

    if fmt == "gpx":
        event_slice, extra, alt = 0, {}, "ele"
        parse_many = GPXSrc.parse_many

        def serialize(uid, points):
            return GPXSrc.track_xml(
                [(la, lo, al, ts) for ts, la, lo, al in points], f"user-{uid}"
            )
    else:
        event_slice, alt = 1, "alt"
        extra = {
            "hr": (F.col("user_id") % 150 + 40).cast("double"),
            "dst": F.col("event_id").cast("double"),
        }
        parse_many = TCXSrc.parse_many

        def serialize(uid, points):
            return TCXSrc.tcx_xml(points, sport="Other", act_id=f"user-{uid}")

    channels = ("timestamp", "lat", "lon", "alt", *extra)
    ev = t(spark, sf_dir, "events").where(F.col("event_id") % 3 == event_slice)
    _lat, _lon = _track_lat_lon()
    pts = ev.select(
        "user_id",
        F.expr("ts_us div 1000000").cast("double").alias("timestamp"),
        _lat.alias("lat"),
        _lon.alias("lon"),
        F.col("value").alias("alt"),
        *[c.alias(name) for name, c in extra.items()],
    )

    grouped = (
        pts.groupBy("user_id")
        .agg(F.array_sort(F.collect_list(F.struct(*channels))).alias("p"))
        .select("user_id", *[F.col(f"p.{c}").alias(c) for c in channels])
    )

    def build(batches):
        for pdf in batches:
            uids, xmls = [], []
            for uid, *track in zip(pdf["user_id"], *[pdf[c] for c in channels]):
                uid = int(uid)
                # plain-float coercion on every field: Arrow hands
                # back numpy scalars (NULL alt as NaN), and numpy>=2
                # repr()s them as 'np.float64(x)' which the writers'
                # repr serialization (and the parser's float()) would
                # choke on — exact no-op under numpy 1.x
                points = [
                    (
                        float(ts),
                        float(la),
                        float(lo),
                        None if pd.isna(al) else float(al),
                        *[float(v) for v in more],
                    )
                    for ts, la, lo, al, *more in zip(*track)
                ]
                uids.append(uid)
                xmls.append(serialize(uid, points))
            yield pd.DataFrame(
                {"user_id": pd.Series(uids, dtype="int64"), "xml": xmls}
            )

    docs = grouped.mapInPandas(build, schema="user_id long, xml string")
    track = parse_many(docs.select("user_id", "xml"), "xml")
    m = F.lit(1000000.0)

    def micro_sum(c: str, name: str | None = None) -> F.Column:
        return F.sum(F.floor(F.col(c) * m + F.lit(0.5))).alias(
            f"{name or c}_micro_sum"
        )

    out = (
        track.select(F.col("source_id").alias("user_id"), *channels)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            micro_sum("lat"),
            micro_sum("lon"),
            F.count("alt").alias(f"n_{alt}"),
            micro_sum("alt", alt),
            *[micro_sum(c) for c in extra],
            # BIGINT whole seconds (timestamps are whole-second by
            # construction): removes every DOUBLE from the hashed output
            # so a double-canonicalization difference can't flip the hash.
            F.min("timestamp").cast("long").alias("t_min"),
            F.max("timestamp").cast("long").alias("t_max"),
        )
    )
    return out.select(F.lit(fmt).alias("facet"), *out.columns)


_XML_CORPUS_FAMILY_ORACLE = f"""
    WITH gf AS ({_GPX_CORPUS_ORACLE.strip().rstrip()}),
         tf AS ({_TCX_CORPUS_ORACLE.strip().rstrip()})
    SELECT 'gpx' AS facet, user_id, n_points,
           lat_micro_sum, lon_micro_sum,
           n_ele, ele_micro_sum,
           CAST(NULL AS BIGINT) AS n_alt, CAST(NULL AS BIGINT) AS alt_micro_sum,
           CAST(NULL AS BIGINT) AS hr_micro_sum,
           CAST(NULL AS BIGINT) AS dst_micro_sum,
           t_min, t_max
    FROM gf
    UNION ALL
    SELECT 'tcx', user_id, n_points,
           lat_micro_sum, lon_micro_sum,
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           n_alt, alt_micro_sum, hr_micro_sum, dst_micro_sum,
           t_min, t_max
    FROM tf
    """


@query("xml_corpus_family", oracle=_XML_CORPUS_FAMILY_ORACLE)
def xml_corpus_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both DISTRIBUTED XML bulk-ingest paths end-to-end on one row,
    facets 'gpx' and 'tcx' (see :func:`_xml_corpus_leg`):

    - 'gpx': one synthetic GPX per user (event slice %3==0)
      serialized in-cluster through track_xml, read back through
      sources/gpx.py parse_many (mapInPandas), aggregated per user.
    - 'tcx': the mirror on the disjoint %3==1 slice through tcx_xml /
      sources/tcx.py parse_many, with the extra HR/Distance channels.

    Each leg's absent channels are NULL, nullable on BOTH engines
    (the kmv_family dtype pattern — both sides pandas-coerce
    together). At 100 TB each leg is serialize + parse as two narrow
    passes; only the final users-sized aggregates shuffle, and the
    union is plan-level (no extra exchange)."""
    u = _xml_corpus_leg(spark, sf_dir, "gpx").unionByName(
        _xml_corpus_leg(spark, sf_dir, "tcx"), allowMissingColumns=True
    )
    # t_min/t_max last, as in the oracle
    last = ("t_min", "t_max")
    return u.select(*[c for c in u.columns if c not in last], *last)


CUSUM_TARGET_MICRO = 500_000
CUSUM_THRESHOLD_MICRO = 5_000_000


def cusum_oracle_sql(
    target_micro: int = CUSUM_TARGET_MICRO,
    threshold_micro: int = CUSUM_THRESHOLD_MICRO,
) -> str:
    """DuckDB twin of ``operators/window.py:cusum`` over the events
    table: micro-quantized value, per-user (ts, event_id) order. The
    closed form S_i = P_i - min(0, min_{j<=i} P_j) is replayed with
    the same two ROWS-unbounded windows the Spark plan uses."""
    return f"""
    WITH x AS (SELECT event_id, user_id, ts,
                      CAST(FLOOR(value * 1e6 + 0.5) AS BIGINT)
                          - {int(target_micro)} AS d
               FROM events WHERE value IS NOT NULL),
         p AS (SELECT event_id, user_id, ts,
                      SUM(d) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS pre
               FROM x),
         m AS (SELECT event_id, user_id,
                      pre - LEAST(MIN(pre) OVER (PARTITION BY user_id
                                                 ORDER BY ts, event_id
                                                 ROWS UNBOUNDED PRECEDING),
                                  CAST(0 AS BIGINT)) AS cusum_micro
               FROM p)
    SELECT event_id, user_id,
           CAST(cusum_micro AS BIGINT) AS cusum_micro,
           cusum_micro > {int(threshold_micro)} AS alarm
    FROM m
    """


@query("cusum_drift_events", oracle=cusum_oracle_sql())
def cusum_drift_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user one-sided CUSUM drift statistic over the events
    stream (operators/window.py cusum — the ordered prev-aware fold
    family, df.rkt:1056-1100, extended to change-point detection).
    The recurrence S_i = max(0, S_{i-1} + (x_i - target))
    looks inherently sequential, but the closed form
    S_i = P_i - min(0, min_{j<=i} P_j) turns it into two
    ROWS-unbounded windows sharing ONE hash exchange + per-key sort —
    integer-exact micro arithmetic, so bit-identical on any engine
    and any partitioning. The oracle replays the identical two-window
    closed form in DuckDB."""
    from data_frame_spark.operators import window as OpW

    ev = (
        t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            "event_id",
            "user_id",
            "ts",
            F.floor(F.col("value") * 1e6 + F.lit(0.5)).cast("long").alias("v_micro"),
        )
    )
    return OpW.cusum(
        ev,
        "v_micro",
        order_by=["ts", "event_id"],
        partition_by=["user_id"],
        target_micro=CUSUM_TARGET_MICRO,
        threshold_micro=CUSUM_THRESHOLD_MICRO,
    ).select("event_id", "user_id", "cusum_micro", "alarm")


PAGERANK_SUPP_OFFSET = 1_000_000


def pagerank_edges_sql() -> str:
    """The part<->supplier co-occurrence graph both engines use:
    distinct (l_partkey, l_suppkey) pairs from lineitem, supplier ids
    offset into a disjoint node-id space, both edge directions (so no
    node is dangling and rank circulates)."""
    return f"""
    b AS MATERIALIZED (SELECT DISTINCT CAST(l_partkey AS BIGINT) AS src,
                          CAST(l_suppkey + {PAGERANK_SUPP_OFFSET} AS BIGINT) AS dst
          FROM lineitem),
    e AS MATERIALIZED (SELECT src, dst FROM b UNION ALL SELECT dst AS src, src AS dst FROM b)
    """


def pagerank_oracle_sql(iterations: int = 4) -> str:
    """DuckDB twin of ``operators/graph.py:pagerank`` on the
    part<->supplier graph: the power iteration unrolled into
    ``iterations`` chained CTE pairs (contribution groupBy-sum, then
    the 0.15 + 0.85-damped integer recombination) — the same
    replay-the-integer-loop recipe as the Lloyd oracles."""
    if iterations < 1:
        raise ValueError("pagerank_oracle_sql needs >= 1 iteration")
    parts = [
        "WITH " + pagerank_edges_sql().strip().rstrip(),
        """nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM e
               UNION SELECT DISTINCT dst FROM e),
    deg AS MATERIALIZED (SELECT src, COUNT(*) AS d FROM e GROUP BY src),
    r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes)""",
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"""c{i} AS (SELECT e.dst AS node, SUM(r.r // g.d) AS s
           FROM e JOIN deg g USING (src)
                  JOIN r{i - 1} r ON r.node = e.src
           GROUP BY e.dst),
    r{i} AS (SELECT n.node,
                    CAST(150000 + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS r
             FROM nodes n LEFT JOIN c{i} c USING (node))"""
        )
    body = ",\n    ".join(parts)
    return f"{body}\n    SELECT node, r AS rank_micro FROM r{iterations}"


def _part_supplier_edges(spark, sf_dir):
    """The bidirectional part<->supplier fixture edges — ONE
    definition shared by pagerank_part_supplier, graph_suite_family
    and ppr_part_seeds."""
    li = t(spark, sf_dir, "lineitem")
    b = li.select(
        F.col("l_partkey").cast("long").alias("src"),
        (F.col("l_suppkey") + PAGERANK_SUPP_OFFSET).cast("long").alias("dst"),
    ).distinct()
    return b.unionAll(b.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


@query("pagerank_part_supplier", oracle=pagerank_oracle_sql(iterations=4))
def pagerank_part_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-micro PageRank (operators/graph.py pagerank, 4 power
    iterations) on the bidirectional part<->supplier co-occurrence
    graph from lineitem (supplier ids offset +1e6 into a disjoint
    node space; both edge directions so no node dangles). Each
    iteration is a vertex-keyed ranks⋈edges shuffle, a
    map-combinable contribution sum, and a vertex-keyed left join
    restoring contribution-less nodes (the shape the r15
    same-session A/B kept over the r14 zero-contribution union —
    operators/graph.py) on integer micro-ranks (r//deg truncating
    division, 0.15 + 0.85-damped recombination in integers) —
    bit-identical under any partitioning, eagerly checkpointed per
    round so the plan never re-expands. The oracle unrolls the same
    integer loop into 4 chained MATERIALIZED CTE pairs."""
    from data_frame_spark.operators.graph import pagerank

    return pagerank(_part_supplier_edges(spark, sf_dir), iterations=4)


from data_frame_spark.operators.text import TOKEN_PATTERN


def bpe_family_oracle_sql(n_merges: int = 12) -> str:
    """DuckDB twin of ``bpe_family``: the merge loop of
    ``operators/bpe.py:bpe_fit`` unrolled into (pair-stats, argmax,
    merge) CTE triples, the fold replayed with ``list_reduce`` over a
    list-of-lists accumulator (DuckDB slice bounds are INCLUSIVE, so
    dropping the accumulator tail is ``[:-2]``). The WORD column rides
    every level, so the final level doubles as the word -> subwords
    vocabulary the encode facet joins the corpus back onto (the
    ``bpe_encode`` replay). Every CTE is MATERIALIZED: each w{k} is
    referenced twice (pair stats + the next merge), so DuckDB's
    default inlining would re-expand the whole prefix per level —
    2^n_merges recomputation. The position explode uses
    generate_series(1, len(wl)), which is empty in DuckDB when
    len(wl) = 0 (the inverted-sequence trap is Spark's sequence()).
    Every integral SUM output carries the outer BIGINT cast; columns
    are quoted — left/right are SQL keywords."""
    if n_merges < 1:
        raise ValueError("bpe_family_oracle_sql needs >= 1 merge")
    eow = "</w>"
    parts = [
        f"""w0 AS MATERIALIZED (
      SELECT word,
             list_append(list_transform(generate_series(1, len(word)),
                                        i -> word[i]), '{eow}') AS syms,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT UNNEST(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')) AS word
            FROM documents)
      GROUP BY word)"""
    ]
    for k in range(1, n_merges + 1):
        parts.append(
            f"""p{k} AS MATERIALIZED (
      SELECT u.pr.l AS l, u.pr.r AS r, CAST(SUM(n) AS BIGINT) AS cnt
      FROM w{k - 1}, UNNEST(CASE WHEN len(syms) < 2 THEN []
           ELSE list_transform(generate_series(1, len(syms) - 1),
                i -> {{'l': syms[i], 'r': syms[i + 1]}}) END) AS u(pr)
      GROUP BY 1, 2),
    s{k} AS MATERIALIZED (SELECT l, r, cnt FROM p{k}
             ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
    w{k} AS MATERIALIZED (
      SELECT word,
             CASE WHEN len(syms) < 2 THEN syms
                  ELSE list_reduce(list_transform(syms, x -> [x]),
                       (acc, x) -> CASE WHEN acc[-1] = s{k}.l AND x[1] = s{k}.r
                                        THEN acc[:-2] || [s{k}.l || s{k}.r]
                                        ELSE acc || x END) END AS syms, n
      FROM w{k - 1} CROSS JOIN s{k})"""
        )
    parts.append(
        f"""tok AS (
      SELECT doc_id, i AS pos, wl[i] AS word
      FROM (SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_PATTERN}') AS wl
            FROM documents),
           UNNEST(generate_series(1, len(wl))) u(i)),
    encagg AS (
      SELECT t.doc_id,
             CAST(SUM(len(v.syms)) AS BIGINT) AS n_subwords,
             md5(string_agg(array_to_string(v.syms, ' '), ' ' ORDER BY t.pos))
               AS tokens_md5
      FROM tok t JOIN w{n_merges} v USING (word)
      GROUP BY t.doc_id),
    encf AS (
      SELECT d.doc_id,
             COALESCE(a.n_subwords, CAST(0 AS BIGINT)) AS n_subwords,
             COALESCE(a.tokens_md5, md5('')) AS tokens_md5
      FROM documents d LEFT JOIN encagg a USING (doc_id))"""
    )
    fit_rows = "\n    UNION ALL ".join(
        f"SELECT 'fit' AS facet, CAST({k - 1} AS BIGINT) AS rank,"
        f' l AS "left", r AS "right", cnt AS pair_n,'
        f" CAST(NULL AS BIGINT) AS doc_id,"
        f" CAST(NULL AS BIGINT) AS n_subwords,"
        f" CAST(NULL AS VARCHAR) AS tokens_md5 FROM s{k}"
        for k in range(1, n_merges + 1)
    )
    enc_rows = (
        "SELECT 'encode', CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),"
        " CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),"
        " doc_id, n_subwords, tokens_md5 FROM encf"
    )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + "\n    "
        + fit_rows
        + "\n    UNION ALL "
        + enc_rows
    )


@query("bpe_family", oracle=bpe_family_oracle_sql(n_merges=12))
def bpe_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full BPE tokenizer lifecycle on one row — facets 'fit' and
    'encode' (round-13 merge: bpe_fit_docs, driver-green in r12, plus
    the encode side the r12 verdict ordered registered; they share
    the fit, so one row costs less than two):

    - 'fit': distributed BPE training (operators/bpe.py bpe_fit,
      Sennrich et al. 2016) — ONE corpus pass builds the bounded
      word-frequency table; each of the 12 merge iterations is an
      explode+groupBy pair-count plus a TakeOrdered(1) argmax on the
      VOCABULARY-bounded table (never the corpus), checkpointed per
      iteration. strict=True keeps the n_merges exact-row contract
      loud. One row per learned merge (rank, left, right, pair_n).
    - 'encode': the corpus encoded with the just-learned merges
      (bpe_encode): merges replay on the DISTINCT words (OOV-exact),
      the word→subwords lookup is the runtime-SIZE-GATED vocabulary
      join (auto: counted on the checkpointed vocab, broadcast only
      ≤ 2M words, else pinned SHUFFLE_HASH — both branches
      plan-tested), reassembly is one doc-keyed aggregate. Output per
      document: subword count + order-preserving md5 of the subword
      stream; token-free documents emit (0, md5('')).

    The oracle replays the identical merge loop in DuckDB with the
    word column carried through (MATERIALIZED CTE chain) and joins
    the corpus back to the final level for the encode facet. The merge list itself is an
    operational constant (≤ 12 rows) collected like the quantile
    boundary literals."""
    from data_frame_spark.operators.bpe import bpe_encode, bpe_fit

    docs = t(spark, sf_dir, "documents")
    merges = bpe_fit(docs, n_merges=12, strict=True)
    enc = bpe_encode(docs, merges, "text", "doc_id")
    fit_leg = merges.select(
        F.lit("fit").alias("facet"), "rank", "left", "right", "pair_n"
    )
    enc_leg = enc.select(
        F.lit("encode").alias("facet"), "doc_id",
        F.size("bpe_tokens").cast("long").alias("n_subwords"),
        F.md5(F.array_join("bpe_tokens", " ")).alias("tokens_md5"),
    )
    return fit_leg.unionByName(enc_leg, allowMissingColumns=True)


# The classifier weights are a DETERMINISTIC operational constant
# shared verbatim by both engines (Knuth multiplicative constant spread
# over [-1e6, 1e6] micro) — a stand-in for a trained quality model,
# which at inference time is a constant either way.
CLASSIFIER_WEIGHTS_MICRO = [
    ((i * 2654435761) % 2000001) - 1000000 for i in range(64)
]
CLASSIFIER_BIAS_MICRO = 250_000
CLASSIFIER_THRESHOLD_MICRO = 0


def classifier_oracle_sql(
    weights_micro: list[int] | None = None,
    bias_micro: int = CLASSIFIER_BIAS_MICRO,
    threshold_micro: int = CLASSIFIER_THRESHOLD_MICRO,
) -> str:
    """DuckDB twin of ``operators/classify.py:linear_text_classifier``
    over the documents table: same whitespace tokenization as the
    dsir oracle, same md5-derived hash60 bucket, the weight vector as
    a literal BIGINT list, and the division-free cross-multiplied
    keep verdict (no truncate-vs-floor hazard on negative sums)."""
    from data_frame_spark.functions.texthash import sql_hash60

    w = weights_micro if weights_micro is not None else CLASSIFIER_WEIGHTS_MICRO
    b = len(w)
    lit = "[" + ", ".join(f"CAST({int(x)} AS BIGINT)" for x in w) + "]"
    nb, tb = int(bias_micro), int(threshold_micro)
    return rf"""
    WITH norm AS (SELECT doc_id,
                         string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS tk
                  FROM documents),
    tok AS (SELECT doc_id, UNNEST(tk) AS token FROM norm),
    wv AS (SELECT doc_id, ({lit})[(({sql_hash60("token")}) % {b}) + 1] AS w
           FROM tok WHERE token <> ''),
    agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
                   CAST(SUM(w) AS BIGINT) AS score_sum_micro
            FROM wv GROUP BY doc_id)
    SELECT doc_id, n_tokens, score_sum_micro,
           (score_sum_micro + {nb} * n_tokens) >= ({tb} * n_tokens) AS keep
    FROM agg
    """


@query("classifier_quality_docs", oracle=classifier_oracle_sql())
def classifier_quality_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style hashed linear quality-classifier INFERENCE over
    the documents corpus (operators/classify.py, Joulin et al. 2016
    applied as CCNet/GPT-3-style quality filtering; no reference
    counterpart — the reference's text stack stops at counting). The
    trained weight vector is an operational constant living in the
    PLAN (array literal), so scoring is one map-side codegen stage
    over the corpus scan: tokenize, md5-derived hash60 bucket, array
    lookup. The only shuffle is the doc-keyed aggregate; the verdict
    is the division-free cross-multiplied integer form (no
    truncate-vs-floor hazard on negative sums). Documents with no
    non-empty tokens produce no row (no evidence, no verdict)."""
    from data_frame_spark.operators.classify import linear_text_classifier

    docs = t(spark, sf_dir, "documents")
    return linear_text_classifier(
        docs,
        "text",
        "doc_id",
        CLASSIFIER_WEIGHTS_MICRO,
        bias_micro=CLASSIFIER_BIAS_MICRO,
        threshold_micro=CLASSIFIER_THRESHOLD_MICRO,
    )


def containment_oracle_sql(n: int = 13, min_shared: int = 1) -> str:
    """DuckDB twin of ``operators/dedup.py:contamination_containment``
    over the documents table with the every-50th-doc benchmark split
    (the decontamination_family ngram leg's fixture convention): distinct
    hashed n-grams per side (whole-doc shingle for documents shorter
    than n tokens — the shingle_rows contract), per-document totals,
    collision counts, and the exact integer containment score
    (both operands positive, so ``//`` matches Spark's ``div``)."""
    return rf"""
    WITH norm AS (SELECT doc_id,
                         string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS tk
                  FROM documents),
         sh AS (SELECT doc_id,
                       CASE WHEN len(tk) < {n} THEN [array_to_string(tk, ' ')]
                            ELSE list_transform(generate_series(1, len(tk)-{n - 1}),
                                                i -> array_to_string(tk[i:i+{n - 1}], ' '))
                       END AS sg
                FROM norm),
         cg AS (SELECT doc_id, UNNEST(list_distinct(list_transform(sg, s -> md5(s)))) AS h
                FROM sh),
         ct AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS doc_ngrams
                FROM cg GROUP BY doc_id),
         bg AS (SELECT doc_id AS bench_id, h FROM cg WHERE doc_id % 50 = 0)
    SELECT c.doc_id, b.bench_id,
           CAST(COUNT(*) AS BIGINT) AS shared_ngrams,
           ct.doc_ngrams,
           CAST((COUNT(*) * 1000000) // ct.doc_ngrams AS BIGINT) AS containment_micro
    FROM cg c JOIN bg b ON c.h = b.h JOIN ct ON ct.doc_id = c.doc_id
    GROUP BY c.doc_id, b.bench_id, ct.doc_ngrams
    HAVING COUNT(*) >= {int(min_shared)}
    """


@query(
    "containment_decontamination_docs",
    oracle=containment_oracle_sql(n=13, min_shared=1),
)
def containment_decontamination_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-3-style GRADED decontamination (operators/dedup.py
    contamination_containment): every (training doc, benchmark doc)
    colliding pair scored by the fraction of the training document's
    distinct 13-gram hashes that appear in the benchmark doc —
    containment_micro = shared*1e6 div total, exact integers both
    engines. The every-50th-doc split plays the fixed eval suite
    (the decontamination_family ngram leg's fixture convention), so the
    benchmark hash side broadcasts by contract (MBs at any corpus
    scale — declared in plans/checks.py); the corpus side reduces to
    distinct doc-keyed n-gram hashes whose per-doc totals ride a
    window on the SAME relation, never a second scan. Work ∝
    collisions."""
    from data_frame_spark.operators.dedup import contamination_containment

    docs = t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 50 == 0)
    return contamination_containment(docs, bench, "text", "doc_id", n=13)


def wav_corpus_oracle_sql() -> str:
    """DuckDB twin of :func:`wav_corpus_spark` (binary_corpus_family's
    'wav' facet and the binary_file_ingest oracle): per-user waveform
    stats computed straight from the events slice that the Spark side
    turns into REAL 16-bit PCM WAV blobs. Sample derivation is pure
    positive-integer arithmetic, order is (event_id) per user, and
    every SUM output carries the OUTER BIGINT cast (HUGEINT -> float64
    pandas-coercion rule)."""
    return """
    WITH x AS (SELECT user_id, event_id,
                      ((user_id * 31 + event_id * 7919) % 65536) - 32768 AS s
               FROM events WHERE event_id % 3 = 2),
         l AS (SELECT user_id, s,
                      LAG(s) OVER (PARTITION BY user_id ORDER BY event_id) AS p
               FROM x)
    SELECT user_id AS doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(SUM(s) AS BIGINT) AS sample_sum,
           CAST(SUM(ABS(s)) AS BIGINT) AS abs_sum,
           CAST(MAX(ABS(s)) AS BIGINT) AS peak_abs,
           CAST(SUM(CASE WHEN p * s < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS zero_crossings,
           TRUE AS ok
    FROM l GROUP BY user_id
    """


def wav_docs(spark, sf_dir):
    """One synthetic mono 16-bit 8 kHz WAV per user, built WITHOUT
    leaving the cluster: a JVM-side
    ``array_sort(collect_list(struct(event_id, s)))`` aggregate
    assembles each user's event-ordered sample vector, and ONE
    batched mapInPandas pass writes the stdlib wave containers (a
    per-user applyInPandas group costs ~2.5 s at sf0.1 in per-group
    Arrow framing alone — the gpx/tcx corpus builders measured the
    same shape). The struct sort orders samples by event_id; event
    ids are unique within a user, which the oracle twin's
    ``LAG ... ORDER BY event_id`` relies on. Disjoint event slice
    (event_id % 3 = 2) from the gpx/tcx corpus rows. Returns
    (user_id, payload)."""
    import io
    import wave

    import numpy as np
    import pandas as pd

    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .where(F.col("event_id") % 3 == 2)
        .select(
            "user_id",
            "event_id",
            (((F.col("user_id") * 31 + F.col("event_id") * 7919) % 65536) - 65536 // 2)
            .cast("long")
            .alias("s"),
        )
    )

    grouped = (
        ev.groupBy("user_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("event_id", "s"))).alias("p")
        )
        .select("user_id", F.col("p.s").alias("ss"))
    )

    def build(batches):
        for pdf in batches:
            uids, payloads = [], []
            for uid, ss in zip(pdf["user_id"], pdf["ss"]):
                samples = np.asarray(ss, dtype="int64").astype("<i2")
                buf = io.BytesIO()
                with wave.open(buf, "wb") as w:
                    w.setnchannels(1)
                    w.setsampwidth(2)
                    w.setframerate(8000)
                    w.writeframes(samples.tobytes())
                uids.append(int(uid))
                payloads.append(buf.getvalue())
            yield pd.DataFrame(
                {"user_id": pd.Series(uids, dtype="int64"), "payload": payloads}
            )

    return grouped.mapInPandas(build, schema="user_id long, payload binary")


def wav_corpus_spark(spark, sf_dir):
    """binary_corpus_family's 'wav' facet: :func:`wav_docs` decoded
    back through the REAL audio_waveform_features reader."""
    from data_frame_spark.operators.multimodal import audio_waveform_features

    return audio_waveform_features(wav_docs(spark, sf_dir), "payload", "user_id")


def video_corpus_oracle_sql() -> str:
    """DuckDB twin of :func:`video_corpus_spark`: per-user
    container metadata computed straight from the events slice the
    Spark side turns into REAL ISO BMFF payloads (box-packed mvhd +
    trak boxes -> video_metadata stdlib box walk). 40 movie-units
    per event at timescale 1000 (25 fps frame-duration flavor);
    track count is a small user-derived constant. All-integer
    outputs with the outer-BIGINT-cast discipline."""
    return """
    WITH x AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
               FROM events WHERE event_id % 3 = 0
               GROUP BY user_id)
    SELECT user_id AS doc_id,
           'mp4' AS format,
           'isom' AS major_brand,
           CAST(1000 AS BIGINT) AS timescale,
           CAST(40 * n AS BIGINT) AS duration_units,
           CAST(40000 * n AS BIGINT) AS duration_us,
           CAST(1 + user_id % 3 AS BIGINT) AS n_tracks,
           TRUE AS ok
    FROM x
    """


def _mp4_box(typ: bytes, payload: bytes) -> bytes:
    return (8 + len(payload)).to_bytes(4, "big") + typ + payload


def mp4_bytes(timescale: int, duration: int, n_tracks: int) -> bytes:
    """Minimal valid ISO BMFF payload (ftyp + moov{mvhd + trak*}) —
    the deterministic synthetic-video builder shared by the 'video'
    facet and the multimodal tests. Durations past the mvhd v0
    32-bit field get the v1 layout (64-bit duration) instead of
    crashing the executor task with to_bytes OverflowError — the
    builder must never be the thing that kills a task the reader's
    quarantine path was hardened for."""
    timescale, duration = int(timescale), int(duration)
    if duration < 0 or timescale < 0:
        raise ValueError("mp4_bytes needs non-negative timescale/duration")
    if duration < (1 << 32) and timescale < (1 << 32):
        mvhd = (
            bytes([0, 0, 0, 0])
            + (0).to_bytes(4, "big") * 2
            + timescale.to_bytes(4, "big")
            + duration.to_bytes(4, "big")
            + b"\x00" * 76
        )
    else:
        # 2^62 is the READER's parseable range (video_metadata's
        # corrupt-mvhd guard quarantines anything above) — emitting
        # [2^62, 2^64) here would be a valid container the pipeline
        # contract still rejects, a silent hash-red instead of a loud
        # builder error
        if timescale >= (1 << 32) or duration >= (1 << 62):
            raise ValueError("duration/timescale past the parseable mvhd v1 range")
        mvhd = (
            bytes([1, 0, 0, 0])
            + (0).to_bytes(8, "big") * 2
            + timescale.to_bytes(4, "big")
            + duration.to_bytes(8, "big")
            + b"\x00" * 76
        )
    moov = _mp4_box(b"mvhd", mvhd) + b"".join(
        _mp4_box(b"trak", b"\x00" * 8) for _ in range(n_tracks)
    )
    return _mp4_box(b"ftyp", b"isom" + b"\x00" * 8) + _mp4_box(b"moov", moov)


def video_corpus_spark(spark, sf_dir):
    """binary_corpus_family's 'video' facet: one
    synthetic ISO BMFF container per user built WITHOUT leaving the
    cluster (mapInPandas over the per-user event counts packs
    ftyp/moov/mvhd/trak boxes), then parsed back through the REAL
    stdlib box walker (multimodal.video_metadata)."""
    import pandas as pd

    from data_frame_spark.operators.multimodal import video_metadata

    counts = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .where(F.col("event_id") % 3 == 0)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )

    def build(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "user_id": pdf["user_id"].astype("int64"),
                    "payload": [
                        mp4_bytes(1000, 40 * int(n), 1 + int(u) % 3)
                        for u, n in zip(pdf["user_id"], pdf["n"])
                    ],
                }
            )

    docs = counts.mapInPandas(build, schema="user_id long, payload binary")
    return video_metadata(docs, "payload", "user_id")


def binary_corpus_family_oracle_sql() -> str:
    """Facet union of the wav + video corpus twins: NULL-superset
    columns, every integral output outer-BIGINT-cast inside the facet
    legs. Nullable-on-both-sides columns coerce to float64 together
    under a pandas canon (the kmv_family pattern)."""
    wav = wav_corpus_oracle_sql().strip().rstrip()
    vid = video_corpus_oracle_sql().strip().rstrip()
    return f"""
    WITH wavf AS ({wav}),
         vidf AS ({vid})
    SELECT 'wav' AS facet, doc_id,
           n_samples, sample_sum, abs_sum, peak_abs, zero_crossings,
           CAST(NULL AS VARCHAR) AS format,
           CAST(NULL AS VARCHAR) AS major_brand,
           CAST(NULL AS BIGINT) AS timescale,
           CAST(NULL AS BIGINT) AS duration_units,
           CAST(NULL AS BIGINT) AS duration_us,
           CAST(NULL AS BIGINT) AS n_tracks,
           ok
    FROM wavf
    UNION ALL
    SELECT 'video', doc_id,
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           format, major_brand, timescale, duration_units, duration_us,
           n_tracks, ok
    FROM vidf
    """


@query("binary_corpus_family", oracle=binary_corpus_family_oracle_sql())
def binary_corpus_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both REAL binary multimodal decode paths end-to-end on one row
    — facets 'wav' and 'video':

    - 'wav': one synthetic mono 16-bit PCM WAV per user built
      in-cluster (one batched mapInPandas pass packs the stdlib wave
      container over event-derived integer samples), decoded back through
      multimodal.audio_waveform_features (stdlib wave + struct) into
      integer waveform stats (energy/peak/zero-crossings).
    - 'video': one synthetic ISO BMFF container per user (mapInPandas
      packs ftyp/moov/mvhd/trak boxes), parsed back through
      multimodal.video_metadata's real box walker (brand, timescale,
      exact-µs duration, track count).

    The oracle computes identical aggregates straight from the events
    slices (disjoint %3 slices from the XML corpus rows), so any loss
    in pack -> decode breaks the hash. Each leg's absent columns are
    NULL, nullable on both engines. At 100 TB each leg is one narrow
    mapInPandas pass over pre-partitioned payloads; only the
    users-sized aggregates shuffle."""
    wav = wav_corpus_spark(spark, sf_dir).select(
        F.lit("wav").alias("facet"), "doc_id",
        "n_samples", "sample_sum", "abs_sum", "peak_abs", "zero_crossings",
        "ok",
    )
    vid = video_corpus_spark(spark, sf_dir).select(
        F.lit("video").alias("facet"), "doc_id",
        "format", "major_brand", "timescale", "duration_units",
        "duration_us", "n_tracks", "ok",
    )
    u = wav.unionByName(vid, allowMissingColumns=True)
    # ok last, as in the oracle
    return u.select(*[c for c in u.columns if c != "ok"], "ok")


def triangle_edges_sql() -> str:
    """The parts-co-ordered graph both engines use: distinct
    (lower, higher) part pairs appearing in the SAME order — unlike
    the bipartite part<->supplier graph, this one actually closes
    triangles. The every-10th-order slice keeps each kept order's
    part CLIQUE intact (so triangles are guaranteed) while cutting
    the fixture graph's edge density ~10x and its wedge count ~100x:
    the UNSLICED sf0.1 graph is pathologically dense (avg degree
    ~120, 41M wedges for 1.2M edges — measured), which is a property
    of the synthetic fixture, not of the operator."""
    return """
    pe AS MATERIALIZED (
      SELECT DISTINCT CAST(a.l_partkey AS BIGINT) AS u,
                      CAST(b.l_partkey AS BIGINT) AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      WHERE a.l_orderkey % 10 = 0)
    """


def _tri_ctes() -> str:
    """The ordered-triple triangle chain (ends in ``tfin``: every
    node with its COALESCE'd count). Deliberately a DIFFERENT
    formulation than the Spark side's degree-ordered orientation: it
    enumerates ordered triples (x < y < z with all three edges
    present), which is correct on any undirected u<v edge list, so
    agreement pins the orientation trick's correctness rather than
    replaying it. CTE names (pe/tn/tri/pern/tfin) are disjoint from
    the LPA (nodes/l*/c*) and BFS (d*/r*) chains by inspection."""
    return f"""{triangle_edges_sql().strip().rstrip()},
    tn AS (SELECT u AS node FROM pe UNION SELECT v FROM pe),
    tri AS (SELECT e1.u AS x, e1.v AS y, e2.v AS z
            FROM pe e1
            JOIN pe e2 ON e2.u = e1.u AND e2.v > e1.v
            JOIN pe e3 ON e3.u = e1.v AND e3.v = e2.v),
    pern AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS triangles
             FROM (SELECT x AS node FROM tri
                   UNION ALL SELECT y FROM tri
                   UNION ALL SELECT z FROM tri)
             GROUP BY node),
    tfin AS (SELECT n.node, COALESCE(p.triangles, CAST(0 AS BIGINT)) AS triangles
             FROM tn n LEFT JOIN pern p USING (node))"""


def _part_cooccur_und(spark, sf_dir):
    """The parts-co-ordered graph as a canonical undirected edge list
    (u < v part pairs sharing an order, every-10th order — the Spark
    mirror of ``triangle_edges_sql``'s ``pe`` CTE). ONE relation,
    lazily checkpointed, feeds both the triangle and the k-core facet
    of graph_suite_family, so the two can never pin different graphs
    and the scan + self-join + distinct runs once. The least/greatest
    + null/self-loop drop + distinct is exactly what triangle_count
    and k_core apply on their ``prepared=False`` path; the pairs
    already satisfy src < dst and non-null, so the fold is a no-op in
    VALUES, kept so the relation is bit-identical to what each
    operator would build internally."""
    li = (
        t(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") % 10 == 0)
        .select("l_orderkey", F.col("l_partkey").cast("long").alias("p"))
    )
    a, b = li.alias("a"), li.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.p") < F.col("b.p")),
    ).select(F.col("a.p").alias("src"), F.col("b.p").alias("dst"))
    src, dst = F.col("src").cast("long"), F.col("dst").cast("long")
    return (
        pairs.select(F.least(src, dst).alias("u"), F.greatest(src, dst).alias("v"))
        .where(F.col("u").isNotNull() & (F.col("u") != F.col("v")))
        .distinct()
        .localCheckpoint(eager=False)
    )


def _kcore_ctes(k: int, rounds: int) -> str:
    """The bounded-peeling chain (assumes the triangle ``pe`` CTE is
    in scope; ends in ``kfin``: surviving (node, degree) rows). CTE
    names (ke*/kd*/kfin) are disjoint from the triangle
    (pe/tn/tri/pern/tfin), LPA (nodes/l*/c*) and BFS (d*/r*) chains
    by inspection — the graph_suite merge-safety contract."""
    parts = ["ke0 AS (SELECT u, v FROM pe)"]
    for i in range(1, rounds + 1):
        parts.append(
            f"""kd{i} AS (SELECT node, COUNT(*) AS d
             FROM (SELECT u AS node FROM ke{i - 1}
                   UNION ALL SELECT v FROM ke{i - 1})
             GROUP BY node),
    ke{i} AS MATERIALIZED (
      SELECT u, v FROM ke{i - 1}
      WHERE u IN (SELECT node FROM kd{i} WHERE d >= {k})
        AND v IN (SELECT node FROM kd{i} WHERE d >= {k}))"""
        )
    parts.append(
        f"""kfin AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS degree
             FROM (SELECT u AS node FROM ke{rounds}
                   UNION ALL SELECT v FROM ke{rounds})
             GROUP BY node)"""
    )
    return ",\n    ".join(parts)


def _lpa_ctes(iterations: int) -> list[str]:
    """The LPA round chain of the graph_suite family (assumes the
    pagerank ``e`` CTE is in scope): synchronous min-tie-break rounds
    unrolled into chained CTE pairs — count (node, label) in-neighbor
    votes, then the deterministic (count DESC, label ASC) argmax via
    ROW_NUMBER (the single-node equivalent of the Spark side's
    MAX(struct))."""
    parts = [
        """nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM e
               UNION SELECT DISTINCT dst FROM e),
    l0 AS (SELECT node, node AS label FROM nodes)""",
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"""c{i} AS (SELECT e.dst AS node, l.label,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM e JOIN l{i - 1} l ON l.node = e.src
            GROUP BY 1, 2),
    l{i} AS MATERIALIZED (
      SELECT n.node, COALESCE(b.label, n.node) AS label
      FROM nodes n LEFT JOIN (
        SELECT node, label FROM (
          SELECT node, label,
                 ROW_NUMBER() OVER (PARTITION BY node
                                    ORDER BY c DESC, label ASC) AS rn
          FROM c{i}) WHERE rn = 1) b USING (node))"""
        )
    return parts


def _bfs_ctes(max_hops: int) -> list[str]:
    """The BFS relaxation chain of the graph_suite family (assumes
    the pagerank ``e`` CTE is in scope): seeds = parts with
    partkey % 100 = 0, then the min-plus relaxation unrolled into
    chained CTE pairs (propagate one hop with a MIN groupBy, then
    min-merge with the running table)."""
    parts = [
        """d0 AS MATERIALIZED (
      SELECT DISTINCT CAST(l_partkey AS BIGINT) AS node,
             CAST(0 AS BIGINT) AS hops
      FROM lineitem WHERE l_partkey % 100 = 0)""",
    ]
    for k in range(1, max_hops + 1):
        parts.append(
            f"""r{k} AS (SELECT e.dst AS node, MIN(d.hops + 1) AS hops
            FROM e JOIN d{k - 1} d ON d.node = e.src
            GROUP BY e.dst),
    d{k} AS MATERIALIZED (
      SELECT node, CAST(MIN(hops) AS BIGINT) AS hops
      FROM (SELECT node, hops FROM d{k - 1}
            UNION ALL SELECT node, hops FROM r{k})
      GROUP BY node)"""
        )
    return parts


def _part_seeds(spark, sf_dir):
    """The every-100th-part seed set (mirrors _bfs_ctes' d0)."""
    return (
        t(spark, sf_dir, "lineitem")
        .where(F.col("l_partkey") % 100 == 0)
        .select(F.col("l_partkey").cast("long").alias("node"))
        .distinct()
    )


def graph_suite_family_oracle_sql(
    iterations: int = 3, max_hops: int = 3, k: int = 5, rounds: int = 4
) -> str:
    """Facet union of the four graph twins on their shared (node,
    value) shape: 'triangles' and 'kcore_degree' on the
    parts-co-ordered graph (the ``pe`` CTE appears ONCE, via
    _tri_ctes, and feeds both the triangle and the peeling chains),
    'lpa_label' and 'bfs_hops' on the pagerank part<->supplier edges.
    The CTE chains' names are disjoint (pe/tn/tri/pern/tfin vs
    ke*/kd*/kfin vs nodes/l*/c* vs d*/r*). k-core runs k=5/rounds=4
    (on this fixture it cascades for three rounds and is stable by
    the fourth, so the facet exercises both the multi-round cascade
    and the idempotent-once-stable contract); LPA/BFS run 3
    rounds/hops."""
    body = ",\n    ".join(
        ["WITH " + pagerank_edges_sql().strip().rstrip()]
        + _lpa_ctes(iterations)
        + _bfs_ctes(max_hops)
        + [_tri_ctes()]
        + [_kcore_ctes(k, rounds)]
    )
    return f"""{body}
    SELECT 'triangles' AS facet, node, triangles AS value FROM tfin
    UNION ALL
    SELECT 'lpa_label', node, label FROM l{iterations}
    UNION ALL
    SELECT 'bfs_hops', node, hops FROM d{max_hops}
    UNION ALL
    SELECT 'kcore_degree', node, degree FROM kfin
    """


@query("graph_suite_family", oracle=graph_suite_family_oracle_sql())
def graph_suite_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The graph operator suite on ONE row — facets 'triangles'
    (degree-ordered triangle counting on the parts-co-ordered graph),
    'lpa_label' (synchronous deterministic label propagation),
    'bfs_hops' (bounded multi-source BFS) and 'kcore_degree' (bounded
    k-core peeling, k=5/rounds=4). The triangle and k-core facets
    share ONE canonicalized co-occurrence relation
    (:func:`_part_cooccur_und`, the oracle's ``pe`` CTE), so they can
    never pin different graphs; the LPA and BFS facets share the
    part<->supplier edge list, materialized once (eager checkpoint;
    distinct by construction, so they take it with prepared=True).
    All four outputs share the (node, BIGINT value) shape. The
    oracle's triangle chain is an INDEPENDENT ordered-triple
    enumeration (not a replay); the LPA/BFS/k-core chains are the
    iterations unrolled into CTE pairs.

    The four facets build concurrently: the threads overlap the
    construction-time jobs (the lazy-checkpoint materializations
    inside the triangle and k-core facets) and build disjoint
    DataFrames; each facet's result is integer-exact under any
    partitioning or ordering.

    No reference twin: net-new graph analytics (the reference's dedup
    story stops at pairwise filtering). At 100 TB: triangles bound
    every join key at O(sqrt(m)) via the orientation; LPA/BFS/k-core
    rounds are vertex-keyed shuffles + map-combinable aggregates —
    LPA and BFS rounds chain into the one materializing action with
    periodic truncation (r18, _TRUNCATE_EVERY /
    _TRUNCATE_EVERY_BRANCHING), k-core keeps lazy per-round
    checkpoints (its 3-reference round measured worse chained) — no
    windows, no data-sized
    broadcasts (pinned pre-checkpoint on
    _oriented_edges/_lpa_round/_relax_round/_kcore_round in
    tests/test_plans.py)."""
    from data_frame_spark.operators.graph import (
        hop_distances,
        k_core,
        label_propagation,
        triangle_count,
    )

    und = _part_cooccur_und(spark, sf_dir)
    edges = _part_supplier_edges(spark, sf_dir).localCheckpoint(eager=True)
    seeds = _part_seeds(spark, sf_dir)

    # 3 rounds/hops: per-round latency is job-barrier-bound on the
    # tiny vertex tables, and three rounds already demonstrate
    # multi-hop propagation — a ~20% row-cost trim measured at sf0.1
    def tri_facet():
        return triangle_count(und, "u", "v", prepared=True).select(
            F.lit("triangles").alias("facet"), "node",
            F.col("triangles").alias("value"),
        )

    def lpa_facet():
        return label_propagation(edges, iterations=3, prepared=True).select(
            F.lit("lpa_label").alias("facet"), "node",
            F.col("label").alias("value"),
        )

    def bfs_facet():
        return hop_distances(edges, seeds, max_hops=3, prepared=True).select(
            F.lit("bfs_hops").alias("facet"), "node",
            F.col("hops").alias("value"),
        )

    def kcore_facet():
        return k_core(
            und, k=5, rounds=4, src_col="u", dst_col="v", prepared=True
        ).select(
            F.lit("kcore_degree").alias("facet"), "node",
            F.col("degree").alias("value"),
        )

    tri, lpa, bfs, kc = build_parallel(
        spark, tri_facet, lpa_facet, bfs_facet, kcore_facet
    )
    return tri.unionByName(lpa).unionByName(bfs).unionByName(kc)


def orc_roundtrip_oracle_sql() -> str:
    """DuckDB twin of :func:`orc_roundtrip_spark`: the SAME
    lineitem slice read straight from parquet — any loss in the
    hive-partitioned ORC write -> read round trip (column types,
    partition-column reconstruction, row coverage) breaks the hash.
    Disjoint slice (% 32 = 1) from csv_roundtrip_lineitem's."""
    return """
    SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
           l_quantity, l_extendedprice, l_discount,
           l_returnflag, l_linestatus
    FROM lineitem WHERE l_orderkey % 32 = 1
    """


def orc_roundtrip_spark(spark, sf_dir):
    """format_roundtrip_family's 'orc' facet: write a lineitem
    slice as a hive-partitioned ORC table
    (sources/orc.py write_orc — partition keys shuffled together so
    each partition is a few files), read it back (partition column
    reconstructed from directory names), and return the typed
    columns. ORC is binary-exact — unlike the CSV round trip there is
    no text-formatting leg — so the row pins partition-column
    round-tripping and scan correctness. Temp path per process with
    atexit cleanup (:func:`_prep_tmp_dir`)."""
    from data_frame_spark.sources.orc import read_orc, write_orc

    path = _prep_tmp_dir("orc_roundtrip", sf_dir)
    cols = [
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_discount", "l_returnflag", "l_linestatus",
    ]
    sl = (
        t(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") % 32 == 1)
        .select(cols)
    )
    write_orc(sl, path, partition_cols=["l_returnflag"])
    back = read_orc(spark, path)
    return back.select(
        F.col("l_orderkey").cast("long").alias("l_orderkey"),
        F.col("l_linenumber").cast("long").alias("l_linenumber"),
        "l_quantity", "l_extendedprice", "l_discount",
        F.col("l_returnflag").cast("string").alias("l_returnflag"),
        "l_linestatus",
    )


def jsonl_roundtrip_oracle_sql() -> str:
    """DuckDB twin of :func:`jsonl_roundtrip_spark`: the SAME
    documents slice read straight from parquet, text hashed so the
    compare stays row-shaped — any loss in the JSONL write -> read
    round trip (escaping, NULL-field survival, schema-first parse)
    breaks the hash."""
    return """
    SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5
    FROM documents WHERE doc_id % 7 = 3
    """


def jsonl_roundtrip_spark(spark, sf_dir):
    """format_roundtrip_family's 'jsonl' facet: a documents slice
    through the distributed JSONL writer
    (ignoreNullFields=false so None survives) and back through the
    schema-first PERMISSIVE reader (sources/jsonl.py), corrupt column
    asserted empty by construction. Temp path per process with atexit
    cleanup (:func:`_prep_tmp_dir`)."""
    from data_frame_spark.sources import jsonl as J

    path = _prep_tmp_dir("jsonl_roundtrip", sf_dir)
    sl = (
        t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 7 == 3)
        .select("doc_id", "text", "lang", "source", "n_chars")
    )
    J.write_jsonl(sl, path)
    back = J.read_jsonl(spark, path, schema=J.DOCUMENTS_SCHEMA)
    return back.where(F.col(J.CORRUPT_COL).isNull()).select(
        "doc_id", "lang", "source", "n_chars", F.md5("text").alias("text_md5")
    )


def format_roundtrip_family_oracle_sql() -> str:
    """Facet union of the ORC and JSONL round-trip twins: facet +
    NULL-superset columns across the two tables' schemas, nullable on
    both engines (the xml_corpus_family recipe)."""
    orc = orc_roundtrip_oracle_sql().strip().rstrip()
    jl = jsonl_roundtrip_oracle_sql().strip().rstrip()
    return f"""
    WITH of AS ({orc}),
         jf AS ({jl})
    SELECT 'orc' AS facet,
           l_orderkey, l_linenumber, l_quantity, l_extendedprice,
           l_discount, l_returnflag, l_linestatus,
           CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS VARCHAR) AS lang,
           CAST(NULL AS VARCHAR) AS source, CAST(NULL AS BIGINT) AS n_chars,
           CAST(NULL AS VARCHAR) AS text_md5
    FROM of
    UNION ALL
    SELECT 'jsonl',
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR),
           CAST(NULL AS VARCHAR),
           doc_id, lang, source, n_chars, text_md5
    FROM jf
    """


@query("format_roundtrip_family", oracle=format_roundtrip_family_oracle_sql())
def format_roundtrip_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both file-format round trips on ONE row —
    facets 'orc' (a lineitem slice written as a hive-partitioned ORC
    table through sources/orc.py and read back, partition columns
    reconstructed) and 'jsonl' (a documents slice through the
    schema-first JSONL writer/reader in sources/jsonl.py, corrupt-row
    quarantine column verified NULL). Each leg's absent columns are
    NULL, nullable on both engines. The oracles read the SAME slices
    straight from parquet, so any loss in
    write -> read (types, partition reconstruction, row coverage,
    text fidelity via md5) breaks the hash.

    Reference parity: the df-read/df-write source surface
    (/root/reference/private/csv.rkt, SURVEY §2.1) extended to the
    columnar/JSONL formats a Spark-native corpus actually uses. At
    100 TB both legs are embarrassingly parallel file IO; only the
    ORC partition-key clustering shuffles."""
    o = orc_roundtrip_spark(spark, sf_dir).select(F.lit("orc").alias("facet"), "*")
    j = jsonl_roundtrip_spark(spark, sf_dir).select(
        F.lit("jsonl").alias("facet"), "*"
    )
    return o.unionByName(j, allowMissingColumns=True)


_ROLLUP_FAMILY_ORACLE = f"""
    WITH lr AS (
      SELECT 'li_rollup' AS facet,
             l_returnflag AS key1, l_linestatus AS key2,
             CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
             CAST(COUNT(*) AS BIGINT) AS cnt,
             {sql_dsum('l_quantity')} AS sum_val
      FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)),
    oc AS (
      SELECT 'ord_cube' AS facet,
             o_orderpriority AS key1, o_orderstatus AS key2,
             CAST(GROUPING(o_orderpriority, o_orderstatus) AS BIGINT) AS gid,
             CAST(COUNT(*) AS BIGINT) AS cnt,
             {sql_dsum('o_totalprice')} AS sum_val
      FROM orders GROUP BY CUBE(o_orderpriority, o_orderstatus)),
    ls AS (
      SELECT 'li_sets' AS facet,
             l_returnflag AS key1, l_linestatus AS key2,
             CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
             CAST(COUNT(*) AS BIGINT) AS cnt,
             {sql_dsum('l_extendedprice')} AS sum_val
      FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus)))
    SELECT * FROM lr
    UNION ALL SELECT * FROM oc
    UNION ALL SELECT * FROM ls
"""


@query("rollup_family", oracle=_ROLLUP_FAMILY_ORACLE)
def rollup_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multi-level aggregation surface on ONE row — facets
    'li_rollup' (lineitem GROUP BY ROLLUP(returnflag, linestatus):
    subtotals + grand total), 'ord_cube' (orders CUBE(priority,
    status): every key combination) and 'li_sets' (explicit GROUPING
    SETS((returnflag), (linestatus))), each with the bit-encoded
    grouping id disambiguating rollup NULLs from (here nonexistent)
    data NULLs. All three share (facet, key1, key2, gid, cnt,
    sum_val); float sums route through exact.dsum/sql_dsum.

    Reference parity: df-fold / grouped aggregation
    (/root/reference/private/statistics.rkt, SURVEY §2.5) generalized
    to the multi-level OLAP form a warehouse user expects. At 100 TB
    this is THE textbook Catalyst case: one Expand node fans each row
    into its grouping sets and ONE map-combinable partial aggregate
    shuffles — no joins, no windows, no self-unions of the fact table
    (plan-pinned: single data shuffle per facet, no Window, no
    broadcast in tests/test_plans.py)."""
    gid = F.grouping_id().cast("long").alias("gid")
    cnt = F.count(F.lit(1)).alias("cnt")
    li = t(spark, sf_dir, "lineitem")
    od = t(spark, sf_dir, "orders")
    lr = (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(gid, cnt, dsum("l_quantity").alias("sum_val"))
        .select(
            F.lit("li_rollup").alias("facet"),
            F.col("l_returnflag").alias("key1"),
            F.col("l_linestatus").alias("key2"),
            "gid", "cnt", "sum_val",
        )
    )
    oc = (
        od.cube("o_orderpriority", "o_orderstatus")
        .agg(gid, cnt, dsum("o_totalprice").alias("sum_val"))
        .select(
            F.lit("ord_cube").alias("facet"),
            F.col("o_orderpriority").alias("key1"),
            F.col("o_orderstatus").alias("key2"),
            "gid", "cnt", "sum_val",
        )
    )
    ls = (
        li.groupingSets(
            [["l_returnflag"], ["l_linestatus"]],
            "l_returnflag", "l_linestatus",
        )
        .agg(gid, cnt, dsum("l_extendedprice").alias("sum_val"))
        .select(
            F.lit("li_sets").alias("facet"),
            F.col("l_returnflag").alias("key1"),
            F.col("l_linestatus").alias("key2"),
            "gid", "cnt", "sum_val",
        )
    )
    return lr.unionByName(oc).unionByName(ls)


# ---------------------------------------------------------------------------
# Family merges whose oracle is a LITERAL snapshot of the retired
# parent rows' verified SQL (docs/PLANS.md §"Round-15 slot funding"),
# plus the surfaces those merges funded.
# ---------------------------------------------------------------------------


_FUNNEL_7D_US = 7 * 86400 * 1000000

#: Frozen snapshot of the facet union of the retired
#: funnel_conversion_events / retention_cohorts_events /
#: clicks_to_purchases_events oracles (md5-pinned in
#: tests/test_oracle_prep.py).
_EVENT_FUNNEL_FAMILY_ORACLE = """\

    WITH funnel_leg AS (SELECT * FROM (
    WITH e AS (SELECT user_id, event_type, epoch_ns(ts)//1000 AS tsn
               FROM events),
    
    w1a AS (SELECT user_id, event_type, tsn,
                  MIN(CASE WHEN event_type = 'view' THEN tsn END)
                    OVER (PARTITION BY user_id) AS t1
           FROM e),
    w2a AS (SELECT *, MIN(CASE WHEN event_type = 'click' AND t1 IS NOT NULL
                               AND tsn > t1  THEN tsn END)
                       OVER (PARTITION BY user_id) AS t2
           FROM w1a),
    w3a AS (SELECT *, MIN(CASE WHEN event_type = 'purchase' AND t2 IS NOT NULL
                               AND tsn > t2  THEN tsn END)
                       OVER (PARTITION BY user_id) AS t3
           FROM w2a),
    ua AS (SELECT user_id, MIN(t1) AS t1, MIN(t2) AS t2, MIN(t3) AS t3
          FROM w3a GROUP BY user_id),
    
    w1b AS (SELECT user_id, event_type, tsn,
                  MIN(CASE WHEN event_type = 'view' THEN tsn END)
                    OVER (PARTITION BY user_id) AS t1
           FROM e),
    w2b AS (SELECT *, MIN(CASE WHEN event_type = 'click' AND t1 IS NOT NULL
                               AND tsn > t1 AND tsn <= t1 + 604800000000 THEN tsn END)
                       OVER (PARTITION BY user_id) AS t2
           FROM w1b),
    w3b AS (SELECT *, MIN(CASE WHEN event_type = 'purchase' AND t2 IS NOT NULL
                               AND tsn > t2 AND tsn <= t2 + 604800000000 THEN tsn END)
                       OVER (PARTITION BY user_id) AS t3
           FROM w2b),
    ub AS (SELECT user_id, MIN(t1) AS t1, MIN(t2) AS t2, MIN(t3) AS t3
          FROM w3b GROUP BY user_id)
    
    SELECT 'all' AS facet, user_id % 8 AS cohort,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
           CAST(SUM(CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
           CAST(SUM(CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
           CAST(SUM(t2 - t1) AS BIGINT) AS view_to_click_us,
           CAST(SUM(t3 - t2) AS BIGINT) AS click_to_purchase_us
    FROM ua GROUP BY user_id % 8
    UNION ALL
    
    SELECT '7d' AS facet, user_id % 8 AS cohort,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
           CAST(SUM(CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
           CAST(SUM(CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
           CAST(SUM(t2 - t1) AS BIGINT) AS view_to_click_us,
           CAST(SUM(t3 - t2) AS BIGINT) AS click_to_purchase_us
    FROM ub GROUP BY user_id % 8
    )),
    retention_leg AS (SELECT * FROM (
    WITH e AS (SELECT user_id, (epoch_ns(ts)//1000) // 604800000000 AS wk
               FROM events),
    a AS (SELECT DISTINCT user_id, wk FROM e),
    c AS (SELECT user_id, wk,
                 MIN(wk) OVER (PARTITION BY user_id) AS cohort
          FROM a),
    g AS (SELECT cohort, wk - cohort AS wk_offset,
                 CAST(COUNT(*) AS BIGINT) AS n_users
          FROM c GROUP BY cohort, wk - cohort),
    s AS (SELECT *, MAX(CASE WHEN wk_offset = 0 THEN n_users END)
                      OVER (PARTITION BY cohort) AS cohort_size
          FROM g)
    SELECT cohort AS cohort_week, wk_offset, n_users, cohort_size,
           n_users * 1000000 // cohort_size AS retention_micro
    FROM s
    )),
    attrib_leg AS (SELECT * FROM (
    WITH e AS (SELECT user_id, event_id, event_type, value,
                      epoch_ns(ts)//1000 AS ts_us
               FROM events),
    c AS (SELECT user_id, event_id AS click_id, ts_us AS click_us
          FROM e WHERE event_type = 'click'),
    p AS (SELECT user_id, event_id AS purchase_id, ts_us AS purchase_us, value
          FROM e WHERE event_type = 'purchase')
    SELECT c.user_id, c.click_id, p.purchase_id,
           p.purchase_us//1000000 - c.click_us//1000000 AS lag_seconds,
           CAST(FLOOR(p.value * 1e6 + 0.5) AS BIGINT) AS purchase_value_micro
    FROM c JOIN p
      ON c.user_id = p.user_id
     AND p.purchase_us >= c.click_us
     AND p.purchase_us <= c.click_us + 1800000000
    ))
    SELECT facet AS facet,
           cohort,
           n_users,
           n_view,
           n_click,
           n_purchase,
           view_to_click_us,
           click_to_purchase_us,
           CAST(NULL AS BIGINT) AS cohort_week,
           CAST(NULL AS BIGINT) AS wk_offset,
           CAST(NULL AS BIGINT) AS cohort_size,
           CAST(NULL AS BIGINT) AS retention_micro,
           CAST(NULL AS BIGINT) AS user_id,
           CAST(NULL AS BIGINT) AS click_id,
           CAST(NULL AS BIGINT) AS purchase_id,
           CAST(NULL AS BIGINT) AS lag_seconds,
           CAST(NULL AS BIGINT) AS purchase_value_micro
    FROM funnel_leg
    UNION ALL
    SELECT 'retention' AS facet,
           CAST(NULL AS BIGINT) AS cohort,
           n_users,
           CAST(NULL AS BIGINT) AS n_view,
           CAST(NULL AS BIGINT) AS n_click,
           CAST(NULL AS BIGINT) AS n_purchase,
           CAST(NULL AS BIGINT) AS view_to_click_us,
           CAST(NULL AS BIGINT) AS click_to_purchase_us,
           cohort_week,
           wk_offset,
           cohort_size,
           retention_micro,
           CAST(NULL AS BIGINT) AS user_id,
           CAST(NULL AS BIGINT) AS click_id,
           CAST(NULL AS BIGINT) AS purchase_id,
           CAST(NULL AS BIGINT) AS lag_seconds,
           CAST(NULL AS BIGINT) AS purchase_value_micro
    FROM retention_leg
    UNION ALL
    SELECT 'attrib' AS facet,
           CAST(NULL AS BIGINT) AS cohort,
           CAST(NULL AS BIGINT) AS n_users,
           CAST(NULL AS BIGINT) AS n_view,
           CAST(NULL AS BIGINT) AS n_click,
           CAST(NULL AS BIGINT) AS n_purchase,
           CAST(NULL AS BIGINT) AS view_to_click_us,
           CAST(NULL AS BIGINT) AS click_to_purchase_us,
           CAST(NULL AS BIGINT) AS cohort_week,
           CAST(NULL AS BIGINT) AS wk_offset,
           CAST(NULL AS BIGINT) AS cohort_size,
           CAST(NULL AS BIGINT) AS retention_micro,
           user_id,
           click_id,
           purchase_id,
           lag_seconds,
           purchase_value_micro
    FROM attrib_leg
    """


def event_funnel_leg(spark, sf_dir, leg: str):
    """One leg of event_funnel_family, pre-union. Exposed per-leg so
    the plan pins (tests/test_misc_ops.py) keep asserting each leg's
    own shuffle budget, not the union's sum.

    - 'funnel': funnel_steps 'all'/'7d' facets per 8-way user cohort.
    - 'retention': the collect_set weekly retention matrix.
    - 'attrib': the 30-minute click->purchase interval join."""
    from pyspark.sql import Window

    from data_frame_spark.streaming.joins import clicks_to_purchases

    ev = t(spark, sf_dir, "events")

    if leg == "funnel":
        def funnel_facet(name: str, within):
            stepped = OpWindow.funnel_steps(
                ev.select("user_id", "event_type", F.col("ts_us").alias("tsn")),
                steps=["view", "click", "purchase"],
                entity_col="user_id", type_col="event_type", ts_col="tsn",
                within=within,
            )
            u = stepped.groupBy("user_id").agg(
                F.min("t1").alias("t1"), F.min("t2").alias("t2"),
                F.min("t3").alias("t3"),
            )
            return (
                u.groupBy((F.col("user_id") % 8).alias("cohort"))
                .agg(
                    F.count(F.lit(1)).alias("n_users"),
                    F.sum(F.when(F.col("t1").isNotNull(), 1).otherwise(0)).alias(
                        "n_view"
                    ),
                    F.sum(F.when(F.col("t2").isNotNull(), 1).otherwise(0)).alias(
                        "n_click"
                    ),
                    F.sum(F.when(F.col("t3").isNotNull(), 1).otherwise(0)).alias(
                        "n_purchase"
                    ),
                    F.sum(F.col("t2") - F.col("t1")).alias("view_to_click_us"),
                    F.sum(F.col("t3") - F.col("t2")).alias("click_to_purchase_us"),
                )
                .select(F.lit(name).alias("facet"), "*")
            )

        return funnel_facet("all", None).unionAll(
            funnel_facet("7d", _FUNNEL_7D_US)
        )

    if leg == "retention":
        wk = F.expr("ts_us div 604800000000")
        peruser = (
            ev.select("user_id", wk.alias("wk"))
            .groupBy("user_id")
            .agg(F.collect_set("wk").alias("wks"))
        )
        c = peruser.select(
            F.array_min("wks").alias("cohort"), F.explode("wks").alias("wk")
        )
        g = c.groupBy(
            F.col("cohort"), (F.col("wk") - F.col("cohort")).alias("wk_offset")
        ).agg(F.count(F.lit(1)).alias("n_users"))
        return (
            g.withColumn(
                "cohort_size",
                F.max(F.when(F.col("wk_offset") == 0, F.col("n_users"))).over(
                    Window.partitionBy("cohort")
                ),
            )
            .select(
                F.lit("retention").alias("facet"),
                F.col("cohort").alias("cohort_week"),
                "wk_offset",
                "n_users",
                "cohort_size",
                F.expr("n_users * 1000000 div cohort_size").alias(
                    "retention_micro"
                ),
            )
        )

    if leg == "attrib":
        return clicks_to_purchases(ev, within="30 minutes").select(
            F.lit("attrib").alias("facet"),
            "user_id",
            "click_id",
            "purchase_id",
            "lag_seconds",
            F.floor(F.col("purchase_value") * 1e6 + F.lit(0.5))
            .cast("long")
            .alias("purchase_value_micro"),
        )

    raise ValueError(f"unknown event_funnel leg: {leg!r}")


@query("event_funnel_family", oracle=_EVENT_FUNNEL_FAMILY_ORACLE)
def event_funnel_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The three event-analytics pipelines on ONE row — facets
    'all'/'7d' (the ordered view->click->purchase funnel per 8-way
    user cohort, unbounded and 7-day conversion windows via
    operators/window.py:funnel_steps), 'retention' (the weekly
    retention cohort matrix with exact integer-micro rates) and
    'attrib' (every click->purchase pair within 30 minutes — the
    batch form of the stream-stream interval join,
    streaming/joins.py; the stream==batch parity test pins the
    watermarked path to this output). Every data column is BIGINT,
    nullable on both engines; n_users is shared by the funnel and
    retention legs.

    No reference twin (the reference has no group-by/join surface —
    SURVEY §2.4/§2.7 map its fold family to Catalyst aggregation).
    At 100 TB: every leg is user-keyed — the funnel's step windows
    and per-user collapse reuse ONE user_id exchange per facet, the
    retention leg folds dedup + cohort into one user-keyed
    collect_set (per-user set size calendar-bounded), and the
    attribution join is a hash-partitioned equi-join on user_id with
    the time bounds residual (never a broadcast). Per-leg shuffle
    budgets and broadcast-freedom pinned in tests/test_misc_ops.py /
    tests/test_plans.py on the pre-union legs
    (:func:`event_funnel_leg`)."""
    funnel = event_funnel_leg(spark, sf_dir, "funnel")
    retention = event_funnel_leg(spark, sf_dir, "retention")
    attrib = event_funnel_leg(spark, sf_dir, "attrib")
    return funnel.unionByName(retention, allowMissingColumns=True).unionByName(
        attrib, allowMissingColumns=True
    )


#: Frozen snapshot of the facet union of the retired mean_max_value
#: and spline_mean_max_curve oracles (md5-pinned in
#: tests/test_oracle_prep.py).
_MEANMAX_CURVE_FAMILY_ORACLE = """\

    WITH mm_leg AS (SELECT * FROM (
    WITH pts AS (SELECT (epoch_ns(ts)//1000)/1000000.0 AS x, value AS y
                 FROM events WHERE value IS NOT NULL),
         s AS (SELECT x, y,
                      (x - LAG(x) OVER w) * (LAG(y) OVER w + y)/2 AS slice,
                      LEAD(x) OVER w AS nx
               FROM pts WINDOW w AS (ORDER BY x)),
         a AS (SELECT x, nx,
                      COALESCE(SUM(CAST(FLOOR(slice * 1000000.0 + 0.5) AS BIGINT))
                               OVER (ORDER BY x ROWS UNBOUNDED PRECEDING), 0) / 1000000.0 AS A,
                      MAX(x) OVER () AS xmax
               FROM s),
         d AS (SELECT CAST(UNNEST([60, 300, 900, 3600, 14400, 86400]) AS DOUBLE) AS duration),
         probes AS (SELECT a.x AS pos, d.duration, a.A AS A_start,
                           a.x + d.duration AS k
                    FROM a CROSS JOIN d
                    WHERE a.nx IS NOT NULL AND a.x + d.duration <= a.xmax),
         back AS (SELECT p.pos, p.duration, p.A_start, p.k, b.x AS x0, b.A AS A0
                  FROM probes p ASOF LEFT JOIN a b ON p.k >= b.x),
         fwd AS (SELECT p.pos, p.duration, b.x AS x1, b.A AS A1
                 FROM probes p ASOF LEFT JOIN a b ON p.k < b.x),
         m AS (SELECT back.duration, back.pos,
                      (CASE WHEN fwd.x1 IS NULL OR fwd.x1 = back.x0 THEN back.A0
                            ELSE back.A0 + (back.k - back.x0)/(fwd.x1 - back.x0)
                                           *(fwd.A1 - back.A0) END
                       - back.A_start) / back.duration AS mean
               FROM back JOIN fwd
                 ON back.pos = fwd.pos AND back.duration = fwd.duration),
         r AS (SELECT duration, pos, mean,
                      ROW_NUMBER() OVER (PARTITION BY duration
                                         ORDER BY mean DESC, pos ASC) AS rk
               FROM m),
         ri AS (SELECT duration, pos, mean,
                       ROW_NUMBER() OVER (PARTITION BY duration
                                          ORDER BY mean ASC, pos ASC) AS rk
                FROM m WHERE duration IN (3600.0, 86400.0))
    SELECT duration, mean AS best_mean, pos, FALSE AS inverted
    FROM r WHERE rk = 1
    UNION ALL
    SELECT duration, mean AS best_mean, pos, TRUE AS inverted
    FROM ri WHERE rk = 1
    )),
    spline_leg AS (SELECT * FROM (
    WITH pts AS (SELECT (epoch_ns(ts)//1000)/1000000.0 AS x, value AS y
                 FROM events WHERE value IS NOT NULL),
         s AS (SELECT x, y,
                      (x - LAG(x) OVER w) * (LAG(y) OVER w + y)/2 AS slice,
                      LEAD(x) OVER w AS nx
               FROM pts WINDOW w AS (ORDER BY x)),
         a AS (SELECT x, nx,
                      COALESCE(SUM(CAST(FLOOR(slice * 1000000.0 + 0.5) AS BIGINT))
                               OVER (ORDER BY x ROWS UNBOUNDED PRECEDING), 0) / 1000000.0 AS A,
                      MAX(x) OVER () AS xmax
               FROM s),
         d AS (SELECT CAST(UNNEST([60, 300, 900, 3600, 14400]) AS DOUBLE) AS duration),
         probes AS (SELECT a.x AS pos, d.duration, a.A AS A_start,
                           a.x + d.duration AS k
                    FROM a CROSS JOIN d
                    WHERE a.nx IS NOT NULL AND a.x + d.duration <= a.xmax),
         back AS (SELECT p.pos, p.duration, p.A_start, p.k, b.x AS x0, b.A AS A0
                  FROM probes p ASOF LEFT JOIN a b ON p.k >= b.x),
         fwd AS (SELECT p.pos, p.duration, b.x AS x1, b.A AS A1
                 FROM probes p ASOF LEFT JOIN a b ON p.k < b.x),
         mm AS (SELECT back.duration, back.pos,
                      (CASE WHEN fwd.x1 IS NULL OR fwd.x1 = back.x0 THEN back.A0
                            ELSE back.A0 + (back.k - back.x0)/(fwd.x1 - back.x0)
                                           *(fwd.A1 - back.A0) END
                       - back.A_start) / back.duration AS mean
               FROM back JOIN fwd
                 ON back.pos = fwd.pos AND back.duration = fwd.duration),
         best AS (SELECT duration, mean,
                      ROW_NUMBER() OVER (PARTITION BY duration
                                         ORDER BY mean DESC, pos ASC) AS rk
               FROM mm),
         knots AS (SELECT
            MAX(CASE WHEN duration = 60.0 THEN mean END) AS y0, MAX(CASE WHEN duration = 300.0 THEN mean END) AS y1, MAX(CASE WHEN duration = 900.0 THEN mean END) AS y2, MAX(CASE WHEN duration = 3600.0 THEN mean END) AS y3, MAX(CASE WHEN duration = 14400.0 THEN mean END) AS y4
            FROM best WHERE rk = 1)
    SELECT 90.0 AS duration, ROUND(((0.875 * y0) + (0.125 * y1) + (((-0.205078125 * 0.0) + (-0.123046875 * ((0.0006160943704741883 * (6.0 * (((y2 - y1) / 600.0) - ((y1 - y0) / 240.0)))) + (-5.83975706610605e-05 * (6.0 * (((y3 - y2) / 2700.0) - ((y2 - y1) / 600.0)))) + (5.83975706610605e-06 * (6.0 * (((y4 - y3) / 10800.0) - ((y3 - y2) / 2700.0))))))) * 9600.0)), 6) AS interpolated_mean FROM knots UNION ALL SELECT 450.0 AS duration, ROUND(((0.75 * y1) + (0.25 * y2) + (((-0.328125 * ((0.0006160943704741883 * (6.0 * (((y2 - y1) / 600.0) - ((y1 - y0) / 240.0)))) + (-5.83975706610605e-05 * (6.0 * (((y3 - y2) / 2700.0) - ((y2 - y1) / 600.0)))) + (5.83975706610605e-06 * (6.0 * (((y4 - y3) / 10800.0) - ((y3 - y2) / 2700.0)))))) + (-0.234375 * ((-5.83975706610605e-05 * (6.0 * (((y2 - y1) / 600.0) - ((y1 - y0) / 240.0)))) + (0.0001635131978509694 * (6.0 * (((y3 - y2) / 2700.0) - ((y2 - y1) / 600.0)))) + (-1.635131978509694e-05 * (6.0 * (((y4 - y3) / 10800.0) - ((y3 - y2) / 2700.0))))))) * 60000.0)), 6) AS interpolated_mean FROM knots UNION ALL SELECT 1800.0 AS duration, ROUND(((0.6666666666666666 * y2) + (0.3333333333333333 * y3) + (((-0.3703703703703704 * ((-5.83975706610605e-05 * (6.0 * (((y2 - y1) / 600.0) - ((y1 - y0) / 240.0)))) + (0.0001635131978509694 * (6.0 * (((y3 - y2) / 2700.0) - ((y2 - y1) / 600.0)))) + (-1.635131978509694e-05 * (6.0 * (((y4 - y3) / 10800.0) - ((y3 - y2) / 2700.0)))))) + (-0.2962962962962963 * ((5.83975706610605e-06 * (6.0 * (((y2 - y1) / 600.0) - ((y1 - y0) / 240.0)))) + (-1.635131978509694e-05 * (6.0 * (((y3 - y2) / 2700.0) - ((y2 - y1) / 600.0)))) + (3.867216901554673e-05 * (6.0 * (((y4 - y3) / 10800.0) - ((y3 - y2) / 2700.0))))))) * 1215000.0)), 6) AS interpolated_mean FROM knots UNION ALL SELECT 7200.0 AS duration, ROUND(((0.6666666666666666 * y3) + (0.3333333333333333 * y4) + (((-0.3703703703703704 * ((5.83975706610605e-06 * (6.0 * (((y2 - y1) / 600.0) - ((y1 - y0) / 240.0)))) + (-1.635131978509694e-05 * (6.0 * (((y3 - y2) / 2700.0) - ((y2 - y1) / 600.0)))) + (3.867216901554673e-05 * (6.0 * (((y4 - y3) / 10800.0) - ((y3 - y2) / 2700.0)))))) + (-0.2962962962962963 * 0.0)) * 19440000.0)), 6) AS interpolated_mean FROM knots))
    SELECT 'mm' AS facet, duration, best_mean, pos, inverted,
           CAST(NULL AS DOUBLE) AS interpolated_mean
    FROM mm_leg
    UNION ALL
    SELECT 'spline', duration, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS BOOLEAN), interpolated_mean
    FROM spline_leg
    """


def meanmax_curve_ladder(spark, sf_dir):
    """The SHARED mean-max ladder both facets of meanmax_curve_family
    read, PRE-checkpoint — exposed so tests/test_plans.py can pin the
    ladder's own window plan (the registered row checkpoints it,
    which truncates the lineage the partitionless walk needs)."""
    ev = t(spark, sf_dir, "events").withColumn(
        "x", F.col("ts_us") / F.lit(1000000.0)
    )
    return OpMM.mean_max(
        ev, "value", "x", durations=_MM_DURS, slice_scale=6,
        inverted_durations=[3600, 86400],
    )


@query("meanmax_curve_family", oracle=_MEANMAX_CURVE_FAMILY_ORACLE)
def meanmax_curve_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The single-series mean-max surface on ONE row — facets 'mm'
    (df-mean-max, meanmax.rkt:262-269: best windowed average of
    event value over 1-min..1-day durations on the elapsed-seconds
    axis, plus the #:inverted? 1h/1d facet, meanmax.rkt:145) and
    'spline' (spline.rkt:163-192: the natural cubic spline fitted to
    the 5-knot mean-max curve, evaluated distributed at probe
    durations, ROUND(...,6) — the oracle solves the constant
    tridiagonal system in closed form, numpy uses LU; they agree to
    ~1e-12). The legs do NOT run mean_max independently: ONE
    mean-max ladder (full duration set + inverted facet),
    checkpointed (a durations-sized table), feeds BOTH facets — the
    'mm' rows directly, and the 'spline' knots as the inverted=false
    subset at the knot durations. The per-duration winners are
    computed independently and integer-exactly, so the subset read
    is bit-identical to a dedicated 5-duration build (same-session
    A/B at sf0.1: 5.36 s vs 8.92 s for two ladder builds, outputs
    identical).

    At 100 TB: slice lag, A-cumulation and probe bracketing all run
    through range-bucketed two-level window plans (no data-sized
    partitionless window — pinned in tests/test_plans.py); the
    spline's 5-knot collect is aggregate-output-sized, the same
    judgement the reference makes."""
    mm = meanmax_curve_ladder(spark, sf_dir).localCheckpoint(eager=False)
    mm_facet = mm.select(
        F.lit("mm").alias("facet"), "duration", "best_mean", "pos", "inverted"
    )
    knots = mm.where(
        (~F.col("inverted"))
        & F.col("duration").isin([float(x) for x in _SPLINE_KNOTS])
    )
    sp = OpSpline.fit_spline(knots, "duration", "best_mean")
    probes = local_frame(spark, [(s,) for s in _SPLINE_PROBES], "duration double")
    spline = probes.select(
        F.lit("spline").alias("facet"), "duration",
        F.round(sp.predict(F.col("duration")), 6).alias("interpolated_mean"),
    )
    return mm_facet.unionByName(spline, allowMissingColumns=True)


#: Frozen snapshot of the facet union of the retired row_range_slice
#: and equal_range_count oracles (md5-pinned in
#: tests/test_oracle_prep.py).
_INDEX_OPS_FAMILY_ORACLE = """\

    WITH slice_leg AS (SELECT * FROM (
    SELECT l_orderkey, l_linenumber, l_quantity FROM (
      SELECT l_orderkey, l_linenumber, l_quantity,
             ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) - 1 AS pos
      FROM lineitem)
    WHERE pos >= 100 AND pos < 120
    )),
    er_leg AS (SELECT * FROM (
    SELECT l_quantity, COUNT(*) AS n, MIN(l_orderkey) AS first_key
    FROM lineitem WHERE l_quantity IN (1.0, 25.0, 50.0)
    GROUP BY l_quantity
    ))
    SELECT 'slice' AS facet, l_orderkey, l_linenumber, l_quantity,
           CAST(NULL AS BIGINT) AS n, CAST(NULL AS BIGINT) AS first_key
    FROM slice_leg
    UNION ALL
    SELECT 'equal_range', CAST(NULL AS BIGINT), CAST(NULL AS INTEGER),
           l_quantity, n, first_key
    FROM er_leg
    """


@query("index_ops_family", oracle=_INDEX_OPS_FAMILY_ORACLE)
def index_ops_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ordered-index row surface on ONE row — facets 'slice'
    (#:start/#:stop row-range semantics over the frame's declared
    order, df.rkt:811-818, via operators/window.py:row_range) and
    'equal_range' (df-equal-range / df-all-indices-of,
    df.rkt:450-465: the duplicate-run of a key value as a
    filter+group). l_quantity is the shared column.

    At 100 TB: the slice's global ROW_NUMBER runs as range-bucketed
    two-level windows (pinned partitionless-free in
    tests/test_plans.py); the equal-range leg is a pushed-down
    IN-filter + one map-combinable aggregate."""
    li = t(spark, sf_dir, "lineitem")
    sl = OpWindow.row_range(
        li.select("l_orderkey", "l_linenumber", "l_quantity"),
        ["l_orderkey", "l_linenumber"], 100, 120,
    ).select(
        F.lit("slice").alias("facet"), "l_orderkey", "l_linenumber", "l_quantity"
    )
    er = (
        li.where(F.col("l_quantity").isin(1.0, 25.0, 50.0))
        .groupBy("l_quantity")
        .agg(F.count(F.lit(1)).alias("n"), F.min("l_orderkey").alias("first_key"))
        .select(F.lit("equal_range").alias("facet"), "l_quantity", "n", "first_key")
    )
    return sl.unionByName(er, allowMissingColumns=True)


_SET_OPS_FAMILY_ORACLE = """
    WITH cart_leg AS (
      SELECT r.r_name, n.n_name FROM region r CROSS JOIN nation n),
    so_leg AS (
      SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
      INTERSECT
      SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O')
    SELECT 'cartesian' AS facet, r_name, n_name,
           CAST(NULL AS VARCHAR) AS o_orderpriority
    FROM cart_leg
    UNION ALL
    SELECT 'set_ops', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
           o_orderpriority
    FROM so_leg
"""


@query("set_ops_family", oracle=_SET_OPS_FAMILY_ORACLE)
def set_ops_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two set-algebra construction rows on ONE row — facets
    'cartesian' (for*/data-frame nested-product construction ==
    crossJoin, /root/reference/private/for-df.rkt:27-62) and
    'set_ops' (SQL INTERSECT distinct set semantics over order
    priorities, SURVEY §2.7). Merged from cartesian_region_nation +
    set_ops_order_priorities (both r13-green; the legs are the
    standalone bodies verbatim). All columns VARCHAR-nullable on both
    engines.

    At 100 TB: the cartesian leg is the bounded demo of an
    explicitly-requested product (5x25 dimension rows — the only
    sanctioned cartesian in the registry); INTERSECT is one
    hash-partitioned distinct-aggregate join on the value key."""
    region = t(spark, sf_dir, "region").select("r_name")
    nation = t(spark, sf_dir, "nation").select("n_name")
    cart = region.crossJoin(nation).select(
        F.lit("cartesian").alias("facet"), "r_name", "n_name"
    )
    orders = t(spark, sf_dir, "orders")
    fside = orders.where(F.col("o_orderstatus") == "F").select("o_orderpriority")
    oside = orders.where(F.col("o_orderstatus") == "O").select("o_orderpriority")
    so = fside.intersect(oside).select(
        F.lit("set_ops").alias("facet"), "o_orderpriority"
    )
    return cart.unionByName(so, allowMissingColumns=True)


def sssp_edges_sql() -> str:
    """The WEIGHTED part<->supplier graph both engines use for the
    shortest-paths twin: per distinct (part, supplier) pair the
    cheapest observed lineitem extended price in exact cents, both
    directions. CTE names (sw/we) disjoint from every other chain."""
    return f"""
    sw AS MATERIALIZED (
      SELECT CAST(l_partkey AS BIGINT) AS src,
             CAST(l_suppkey + {PAGERANK_SUPP_OFFSET} AS BIGINT) AS dst,
             CAST(MIN(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS w
      FROM lineitem GROUP BY 1, 2),
    we AS MATERIALIZED (SELECT src, dst, w FROM sw
          UNION ALL SELECT dst AS src, src AS dst, w FROM sw)
    """


def _sssp_ctes(max_rounds: int) -> list[str]:
    """The weighted relaxation chain of :func:`sssp_oracle_sql`
    (assumes ``we`` is in scope)."""
    parts = [
        """sd0 AS MATERIALIZED (
      SELECT DISTINCT CAST(l_partkey AS BIGINT) AS node,
             CAST(0 AS BIGINT) AS dist
      FROM lineitem WHERE l_partkey % 100 = 0)""",
    ]
    for k in range(1, max_rounds + 1):
        parts.append(
            f"""sr{k} AS (SELECT e.dst AS node, MIN(d.dist + e.w) AS dist
            FROM we e JOIN sd{k - 1} d ON d.node = e.src
            GROUP BY e.dst),
    sd{k} AS MATERIALIZED (
      SELECT node, CAST(MIN(dist) AS BIGINT) AS dist
      FROM (SELECT node, dist FROM sd{k - 1}
            UNION ALL SELECT node, dist FROM sr{k})
      GROUP BY node)"""
        )
    return parts


def sssp_oracle_sql(max_rounds: int = 4) -> str:
    """DuckDB twin of ``operators/graph.py:shortest_paths`` on the
    weighted part<->supplier graph, seeds = every-100th part: the
    bounded Bellman-Ford min-plus relaxation unrolled into chained
    CTE pairs (the bfs recipe with the weight riding the edge row).
    CTE names (sd*/sr*) disjoint from every other chain."""
    if max_rounds < 0:
        raise ValueError("sssp_oracle_sql needs max_rounds >= 0")
    parts = ["WITH " + sssp_edges_sql().strip().rstrip()] + _sssp_ctes(max_rounds)
    body = ",\n    ".join(parts)
    return f"{body}\n    SELECT node, dist FROM sd{max_rounds}"


@query("sssp_cheapest_route", oracle=sssp_oracle_sql(max_rounds=4))
def sssp_cheapest_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded weighted single-source shortest paths
    (operators/graph.py:shortest_paths, Bellman-Ford min-plus
    relaxation, 4 rounds) on the cheapest-cents part<->supplier
    graph: edge weight = MIN observed lineitem extended price in
    exact integer cents per distinct (part, supplier) pair, both
    directions; seeds = every-100th part at distance 0. Oracle: the
    relaxation unrolled into chained CTE pairs (sd*/sr*, the BFS
    recipe with the weight riding the edge row). Non-negative
    weights enforced loudly (negative-cycle safety).

    No reference twin: net-new graph analytics. At 100 TB each round
    is one vertex-keyed min-plus join + map-combinable MIN aggregate
    over the DISTINCT weighted edge set (bounded by |parts x
    suppliers| co-occurrence, not lineitem volume), rounds CHAINED
    into the one materializing action with truncation every
    _TRUNCATE_EVERY_BRANCHING (r18: the min-merge's two references
    to the previous round read ONE AQE-reused exchange — measured
    fewer tasks AND fewer shuffle bytes than per-round checkpoints),
    fixed round count — bit-identical on any engine or
    layout (integer dist, exact MIN)."""
    from data_frame_spark.operators.graph import shortest_paths

    li = t(spark, sf_dir, "lineitem")
    sw = (
        li.groupBy(
            F.col("l_partkey").cast("long").alias("src"),
            (F.col("l_suppkey") + PAGERANK_SUPP_OFFSET).cast("long").alias("dst"),
        )
        .agg(
            F.min(
                F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
            ).alias("w")
        )
    )
    we = sw.unionAll(
        sw.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    )
    return shortest_paths(we, _part_seeds(spark, sf_dir), max_rounds=4)


def scd2_oracle_sql() -> str:
    """DuckDB twin of ``operators/scd.py:scd2_apply`` on the customer
    dimension: the snapshot is version ts=0 per customer; the update
    batch is one row per (customer, order day) carrying
    MAX(o_orderpriority) as the new segment value (deterministic
    same-ts collapse); windows replay the same (ts, tracked) total
    order, LAG change filter and LEAD effective dating."""
    return """
    WITH scd_base AS (
      SELECT CAST(c_custkey AS BIGINT) AS k, c_mktsegment AS seg,
             CAST(0 AS BIGINT) AS ts
      FROM customer),
    scd_ups AS (
      SELECT CAST(o_custkey AS BIGINT) AS k, MAX(o_orderpriority) AS seg,
             epoch_ns(o_orderdate)//1000 AS ts
      FROM orders GROUP BY o_custkey, o_orderdate),
    scd_v AS (SELECT * FROM scd_base UNION ALL SELECT * FROM scd_ups),
    scd_chg AS (
      SELECT k, seg, ts,
             LAG(seg) OVER (PARTITION BY k ORDER BY ts, seg) AS prev
      FROM scd_v),
    scd_kept AS (
      SELECT k, seg, ts FROM scd_chg WHERE prev IS NULL OR prev <> seg)
    SELECT k AS c_custkey, seg AS c_mktsegment,
           ts AS valid_from,
           LEAD(ts) OVER (PARTITION BY k ORDER BY ts, seg) AS valid_to,
           LEAD(ts) OVER (PARTITION BY k ORDER BY ts, seg) IS NULL
               AS is_current
    FROM scd_kept
    """


@query("scd2_customer_dim", oracle=scd2_oracle_sql())
def scd2_customer_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension versioning
    (operators/scd.py:scd2_apply) of the customer dimension: the
    snapshot is version ts=0 per customer; the update batch is one
    row per (customer, order-day) carrying MAX(o_orderpriority) as
    the new tracked value (deterministic same-ts collapse); output =
    effective-dated versions (valid_from, valid_to, is_current) with
    consecutive-duplicate changes collapsed via the LAG change
    filter and LEAD effective dating. Oracle replays the same (ts,
    tracked) total order in DuckDB windows.

    The warehouse-dimension primitive the reference's single-frame
    model has no twin for (its df-add-derived! is row-wise, SURVEY
    §2.5). At 100 TB: ONE key exchange on the business key feeds
    both window passes (change filter + dating) — no join, no
    collect, no data-sized partitionless window (pinned in
    tests/test_scd.py)."""
    from data_frame_spark.operators.scd import scd2_apply

    # t() pins session timezone UTC, so the TIMESTAMP_NTZ ->
    # timestamp cast below extracts the same epoch micros DuckDB's
    # epoch_ns sees (the load_table events recipe)
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    ups = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderpriority").alias("c_mktsegment"))
        .select(
            F.col("o_custkey").alias("c_custkey"),
            "c_mktsegment",
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("ts"),
        )
    )
    return scd2_apply(
        cust, ups, "c_custkey", ["c_mktsegment"], "ts", snapshot_ts=0
    )


def table_diff_oracle_sql() -> str:
    """DuckDB twin of ``operators/scd.py:table_diff`` on the customer
    dimension vs a deterministically drifted snapshot: custkey % 11 = 0
    rows removed, % 7 = 0 rows re-segmented, supplier-derived rows
    (key-offset into a disjoint id space) added. Full-outer join +
    NULL-safe classify, unchanged keys dropped."""
    return """
    WITH td_old AS (
      SELECT CAST(c_custkey AS BIGINT) AS k, c_mktsegment AS seg
      FROM customer),
    td_new AS (
      SELECT k, CASE WHEN k % 7 = 0 THEN 'RESEGMENTED' ELSE seg END AS seg
      FROM td_old WHERE k % 11 <> 0
      UNION ALL
      SELECT CAST(s_suppkey + 10000000 AS BIGINT), 'SUPPLIER'
      FROM supplier),
    j AS (
      SELECT COALESCE(o.k, n.k) AS c_custkey,
             o.seg AS old_seg, n.seg AS new_seg,
             o.k IS NOT NULL AS in_old, n.k IS NOT NULL AS in_new
      FROM td_old o FULL OUTER JOIN td_new n ON o.k = n.k)
    SELECT c_custkey,
           CASE WHEN NOT in_old THEN 'added'
                WHEN NOT in_new THEN 'removed'
                WHEN old_seg IS DISTINCT FROM new_seg THEN 'changed'
           END AS change,
           old_seg AS old_c_mktsegment, new_seg AS new_c_mktsegment
    FROM j
    WHERE (CASE WHEN NOT in_old THEN 'added'
                WHEN NOT in_new THEN 'removed'
                WHEN old_seg IS DISTINCT FROM new_seg THEN 'changed'
           END) IS NOT NULL
    """


@query("table_diff_customers", oracle=table_diff_oracle_sql())
def table_diff_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation (operators/scd.py:table_diff): the
    customer dimension vs a deterministically drifted copy (every
    11th key removed, every 7th re-segmented, supplier-derived rows
    key-offset into a disjoint id space added) classified into
    added/removed/changed by key — NULL-safe value compares,
    unchanged keys dropped so the output is proportional to drift,
    not table size. Oracle: the same full-outer join + IS DISTINCT
    FROM classify in DuckDB.

    The dataset-versioning audit primitive (did yesterday's corpus
    rebuild change anything it shouldn't?). At 100 TB: ONE
    key-partitioned full-outer shuffle join — plan-pinned
    broadcast-free (tests/test_scd.py); output ∝ drift."""
    from data_frame_spark.operators.scd import table_diff

    old = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("c_custkey"), "c_mktsegment"
    )
    new = old.where(F.col("c_custkey") % 11 != 0).select(
        "c_custkey",
        F.when(F.col("c_custkey") % 7 == 0, F.lit("RESEGMENTED"))
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
    ).unionByName(
        t(spark, sf_dir, "supplier").select(
            (F.col("s_suppkey") + 10_000_000).cast("long").alias("c_custkey"),
            F.lit("SUPPLIER").alias("c_mktsegment"),
        )
    )
    return table_diff(old, new, ["c_custkey"], ["c_mktsegment"])


def png_bytes(width: int, height: int) -> bytes:
    """Minimal VALID 8-bit grayscale PNG (signature + IHDR + one
    zlib-compressed IDAT of zero scanlines + IEND, all CRCs real) —
    the deterministic synthetic-image builder shared by
    image_corpus_features and the multimodal tests. Loud-validation stance
    (mp4_bytes): the builder must never emit contract-violating bytes
    or kill an executor task."""
    import struct
    import zlib

    width, height = int(width), int(height)
    if not (1 <= width <= 0xFFFF and 1 <= height <= 0xFFFF):
        raise ValueError("png_bytes needs 1 <= width/height <= 65535")

    def chunk(typ: bytes, payload: bytes) -> bytes:
        return (
            len(payload).to_bytes(4, "big") + typ + payload
            + zlib.crc32(typ + payload).to_bytes(4, "big")
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    raw = (b"\x00" + b"\x00" * width) * height  # filter 0 + zero pixels
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 1))
        + chunk(b"IEND", b"")
    )


def jpeg_bytes(width: int, height: int, n_channels: int = 3) -> bytes:
    """Minimal JPEG HEADER STREAM (SOI + JFIF APP0 + SOF0 + EOI) —
    structurally valid for metadata walkers (which read dimensions
    from the first SOF segment, the image_metadata contract); carries
    no entropy-coded scan, so it is a metadata fixture, not a
    renderable image (documented, the multimodal PIL stance)."""
    width, height, n_channels = int(width), int(height), int(n_channels)
    if not (1 <= width <= 0xFFFF and 1 <= height <= 0xFFFF):
        raise ValueError("jpeg_bytes needs 1 <= width/height <= 65535")
    if not (1 <= n_channels <= 4):
        raise ValueError("jpeg_bytes needs 1 <= n_channels <= 4")
    app0 = b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
    sof = bytes([8]) + height.to_bytes(2, "big") + width.to_bytes(2, "big")
    sof += bytes([n_channels])
    for c in range(n_channels):
        sof += bytes([c + 1, 0x11, 0])  # id, 1x1 sampling, quant table 0
    return (
        b"\xff\xd8"
        + b"\xff\xe0" + (2 + len(app0)).to_bytes(2, "big") + app0
        + b"\xff\xc0" + (2 + len(sof)).to_bytes(2, "big") + sof
        + b"\xff\xd9"
    )


def image_corpus_oracle_sql() -> str:
    """DuckDB twin of image_corpus_features: per-user
    image metadata computed straight from the events slice the Spark
    side turns into REAL payloads (even users a valid zlib/CRC PNG,
    odd users a JFIF+SOF0 header stream -> image_metadata's stdlib
    walkers). Disjoint event slice (event_id % 3 = 1) from the wav
    (= 2) and video (= 0) corpus rows. All-integer outputs with the
    outer-BIGINT-cast discipline."""
    return """
    WITH x AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
               FROM events WHERE event_id % 3 = 1
               GROUP BY user_id)
    SELECT user_id AS doc_id,
           CASE WHEN user_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
           CAST(16 + n % 240 AS BIGINT) AS width,
           CAST(16 + user_id % 100 AS BIGINT) AS height,
           CAST(8 AS BIGINT) AS bit_depth,
           CAST(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 3 END AS BIGINT)
               AS n_channels,
           TRUE AS ok
    FROM x
    """


@query("image_corpus_features", oracle=image_corpus_oracle_sql())
def image_corpus_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image metadata extraction over an opaque binary column
    (operators/multimodal.py:image_metadata): one synthetic image
    per user built WITHOUT leaving the cluster (mapInPandas packs a
    REAL zlib/CRC PNG for even users, a JFIF+SOF0 header stream for
    odd users, dimensions derived from the events %3=1 slice —
    disjoint from the wav/video corpus slices), then parsed back
    through the REAL stdlib IHDR/SOF walkers into
    format/width/height/bit_depth/n_channels (+quarantine flag).
    The oracle computes the same integers straight from the events
    slice, so any loss in pack -> walk breaks the hash.

    The multimodal-metadata leg of the training-data story (PIL
    decode stays a documented stub; the walkers are real byte
    readers). At 100 TB: one narrow Arrow-batched mapInPandas per
    leg over pre-partitioned payloads; only the users-sized
    aggregate shuffles."""
    import pandas as pd

    from data_frame_spark.operators.multimodal import image_metadata

    counts = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .where(F.col("event_id") % 3 == 1)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )

    def build(batches):
        for pdf in batches:
            payloads = []
            for u, n in zip(pdf["user_id"], pdf["n"]):
                u, n = int(u), int(n)
                w, h = 16 + n % 240, 16 + u % 100
                payloads.append(
                    png_bytes(w, h) if u % 2 == 0 else jpeg_bytes(w, h, 3)
                )
            yield pd.DataFrame(
                {"user_id": pdf["user_id"].astype("int64"), "payload": payloads}
            )

    docs = counts.mapInPandas(build, schema="user_id long, payload binary")
    return image_metadata(docs, "payload", "user_id")


def ppr_oracle_sql(iterations: int = 4) -> str:
    """DuckDB twin of personalized PageRank (``pagerank`` with
    ``seeds=``) on the part<->supplier graph, seeds = every-100th
    part: the pagerank replay with the restart base and initial mass
    paid only to seeds. CTE names (pnodes/pp*/pc*) disjoint from the
    classic chain (nodes/r*/c*)."""
    if iterations < 1:
        raise ValueError("ppr_oracle_sql needs >= 1 iteration")
    parts = [
        "WITH " + pagerank_edges_sql().strip().rstrip(),
        f"""pnodes AS MATERIALIZED (
      SELECT node,
             CASE WHEN node % 100 = 0 AND node < {PAGERANK_SUPP_OFFSET}
                  THEN CAST(150000 AS BIGINT) ELSE CAST(0 AS BIGINT)
             END AS base,
             CASE WHEN node % 100 = 0 AND node < {PAGERANK_SUPP_OFFSET}
                  THEN CAST(1000000 AS BIGINT) ELSE CAST(0 AS BIGINT)
             END AS init
      FROM (SELECT DISTINCT src AS node FROM e
            UNION SELECT DISTINCT dst FROM e)),
    pdeg AS MATERIALIZED (SELECT src, COUNT(*) AS d FROM e GROUP BY src),
    pp0 AS (SELECT node, init AS r FROM pnodes)""",
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"""pc{i} AS (SELECT e.dst AS node, SUM(r.r // g.d) AS s
           FROM e JOIN pdeg g USING (src)
                  JOIN pp{i - 1} r ON r.node = e.src
           GROUP BY e.dst),
    pp{i} AS (SELECT n.node,
                    CAST(n.base + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS r
             FROM pnodes n LEFT JOIN pc{i} c USING (node))"""
        )
    body = ",\n    ".join(parts)
    return f"{body}\n    SELECT node, r AS rank_micro FROM pp{iterations}"


@query("ppr_part_seeds", oracle=ppr_oracle_sql(iterations=4))
def ppr_part_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (operators/graph.py:pagerank with
    ``seeds=``) on the shared part<->supplier co-purchase graph:
    restart base and initial mass paid only to the every-100th-part
    seed set (parts only, hence the ``node < 1000000`` guard in the
    oracle's seed predicate — the supplier offset keeps seed
    arithmetic unambiguous; edge-less seeds keep their restart
    base), exact integer-micro arithmetic, 4 iterations.
    Oracle: the pagerank replay with a seed-predicate base
    (pnodes/pp*/pc* chains, disjoint from the classic row's
    nodes/r*/c*).

    The seeded-relevance primitive (what's near THESE documents) on
    top of the classic row's machinery. At 100 TB: identical shape
    to pagerank_part_supplier — vertex-keyed contribution shuffles
    and restore-join, chained rounds with periodic lazy lineage
    truncation, no windows, no data-sized broadcasts."""
    from data_frame_spark.operators.graph import pagerank

    return pagerank(
        _part_supplier_edges(spark, sf_dir),
        iterations=4,
        seeds=_part_seeds(spark, sf_dir),
    )


# ---------------------------------------------------------------------------
# the decontamination family merge and the two surfaces it funded
# (docs/PLANS.md §"Round-16 slot funding")
# ---------------------------------------------------------------------------


#: the bloom filter's bit-array width (deliberately small so the
#: oracle exercises real false positives)
_DECON_BLOOM_M = 4096


#: Frozen snapshot of the facet union of the retired
#: bloom_decontamination_docs / ngram_decontamination_docs /
#: contamination_audit_splits oracles (md5-pinned in
#: tests/test_oracle_prep.py).
_DECONTAMINATION_FAMILY_ORACLE = r"""
    WITH bloom_leg AS (SELECT * FROM (
    WITH norm AS (SELECT doc_id,
                         string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS tk
                  FROM documents),
         sh AS (SELECT doc_id,
                       CASE WHEN len(tk) < 13 THEN [array_to_string(tk, ' ')]
                            ELSE list_transform(generate_series(1, len(tk)-12),
                                                i -> array_to_string(tk[i:i+12], ' '))
                       END AS sg
                FROM norm),
         cg AS (SELECT doc_id, UNNEST(list_distinct(list_transform(sg, s -> md5(s)))) AS h
                FROM sh),
         bg AS (SELECT DISTINCT h FROM cg WHERE doc_id % 50 = 0),
         bits AS (SELECT DISTINCT pos FROM (
                    SELECT ((CASE WHEN ascii(substr(h, 1, 1)) >= 97 THEN ascii(substr(h, 1, 1)) - 87 ELSE ascii(substr(h, 1, 1)) - 48 END) * 16777216 + (CASE WHEN ascii(substr(h, 2, 1)) >= 97 THEN ascii(substr(h, 2, 1)) - 87 ELSE ascii(substr(h, 2, 1)) - 48 END) * 1048576 + (CASE WHEN ascii(substr(h, 3, 1)) >= 97 THEN ascii(substr(h, 3, 1)) - 87 ELSE ascii(substr(h, 3, 1)) - 48 END) * 65536 + (CASE WHEN ascii(substr(h, 4, 1)) >= 97 THEN ascii(substr(h, 4, 1)) - 87 ELSE ascii(substr(h, 4, 1)) - 48 END) * 4096 + (CASE WHEN ascii(substr(h, 5, 1)) >= 97 THEN ascii(substr(h, 5, 1)) - 87 ELSE ascii(substr(h, 5, 1)) - 48 END) * 256 + (CASE WHEN ascii(substr(h, 6, 1)) >= 97 THEN ascii(substr(h, 6, 1)) - 87 ELSE ascii(substr(h, 6, 1)) - 48 END) * 16 + (CASE WHEN ascii(substr(h, 7, 1)) >= 97 THEN ascii(substr(h, 7, 1)) - 87 ELSE ascii(substr(h, 7, 1)) - 48 END) * 1) % 4096 AS pos FROM bg
                    UNION ALL SELECT ((CASE WHEN ascii(substr(h, 8, 1)) >= 97 THEN ascii(substr(h, 8, 1)) - 87 ELSE ascii(substr(h, 8, 1)) - 48 END) * 16777216 + (CASE WHEN ascii(substr(h, 9, 1)) >= 97 THEN ascii(substr(h, 9, 1)) - 87 ELSE ascii(substr(h, 9, 1)) - 48 END) * 1048576 + (CASE WHEN ascii(substr(h, 10, 1)) >= 97 THEN ascii(substr(h, 10, 1)) - 87 ELSE ascii(substr(h, 10, 1)) - 48 END) * 65536 + (CASE WHEN ascii(substr(h, 11, 1)) >= 97 THEN ascii(substr(h, 11, 1)) - 87 ELSE ascii(substr(h, 11, 1)) - 48 END) * 4096 + (CASE WHEN ascii(substr(h, 12, 1)) >= 97 THEN ascii(substr(h, 12, 1)) - 87 ELSE ascii(substr(h, 12, 1)) - 48 END) * 256 + (CASE WHEN ascii(substr(h, 13, 1)) >= 97 THEN ascii(substr(h, 13, 1)) - 87 ELSE ascii(substr(h, 13, 1)) - 48 END) * 16 + (CASE WHEN ascii(substr(h, 14, 1)) >= 97 THEN ascii(substr(h, 14, 1)) - 87 ELSE ascii(substr(h, 14, 1)) - 48 END) * 1) % 4096 FROM bg
                    UNION ALL SELECT ((CASE WHEN ascii(substr(h, 15, 1)) >= 97 THEN ascii(substr(h, 15, 1)) - 87 ELSE ascii(substr(h, 15, 1)) - 48 END) * 16777216 + (CASE WHEN ascii(substr(h, 16, 1)) >= 97 THEN ascii(substr(h, 16, 1)) - 87 ELSE ascii(substr(h, 16, 1)) - 48 END) * 1048576 + (CASE WHEN ascii(substr(h, 17, 1)) >= 97 THEN ascii(substr(h, 17, 1)) - 87 ELSE ascii(substr(h, 17, 1)) - 48 END) * 65536 + (CASE WHEN ascii(substr(h, 18, 1)) >= 97 THEN ascii(substr(h, 18, 1)) - 87 ELSE ascii(substr(h, 18, 1)) - 48 END) * 4096 + (CASE WHEN ascii(substr(h, 19, 1)) >= 97 THEN ascii(substr(h, 19, 1)) - 87 ELSE ascii(substr(h, 19, 1)) - 48 END) * 256 + (CASE WHEN ascii(substr(h, 20, 1)) >= 97 THEN ascii(substr(h, 20, 1)) - 87 ELSE ascii(substr(h, 20, 1)) - 48 END) * 16 + (CASE WHEN ascii(substr(h, 21, 1)) >= 97 THEN ascii(substr(h, 21, 1)) - 87 ELSE ascii(substr(h, 21, 1)) - 48 END) * 1) % 4096 FROM bg)),
         probe AS (SELECT doc_id, h,
                          ((CASE WHEN ascii(substr(h, 1, 1)) >= 97 THEN ascii(substr(h, 1, 1)) - 87 ELSE ascii(substr(h, 1, 1)) - 48 END) * 16777216 + (CASE WHEN ascii(substr(h, 2, 1)) >= 97 THEN ascii(substr(h, 2, 1)) - 87 ELSE ascii(substr(h, 2, 1)) - 48 END) * 1048576 + (CASE WHEN ascii(substr(h, 3, 1)) >= 97 THEN ascii(substr(h, 3, 1)) - 87 ELSE ascii(substr(h, 3, 1)) - 48 END) * 65536 + (CASE WHEN ascii(substr(h, 4, 1)) >= 97 THEN ascii(substr(h, 4, 1)) - 87 ELSE ascii(substr(h, 4, 1)) - 48 END) * 4096 + (CASE WHEN ascii(substr(h, 5, 1)) >= 97 THEN ascii(substr(h, 5, 1)) - 87 ELSE ascii(substr(h, 5, 1)) - 48 END) * 256 + (CASE WHEN ascii(substr(h, 6, 1)) >= 97 THEN ascii(substr(h, 6, 1)) - 87 ELSE ascii(substr(h, 6, 1)) - 48 END) * 16 + (CASE WHEN ascii(substr(h, 7, 1)) >= 97 THEN ascii(substr(h, 7, 1)) - 87 ELSE ascii(substr(h, 7, 1)) - 48 END) * 1) % 4096 AS p0,
                          ((CASE WHEN ascii(substr(h, 8, 1)) >= 97 THEN ascii(substr(h, 8, 1)) - 87 ELSE ascii(substr(h, 8, 1)) - 48 END) * 16777216 + (CASE WHEN ascii(substr(h, 9, 1)) >= 97 THEN ascii(substr(h, 9, 1)) - 87 ELSE ascii(substr(h, 9, 1)) - 48 END) * 1048576 + (CASE WHEN ascii(substr(h, 10, 1)) >= 97 THEN ascii(substr(h, 10, 1)) - 87 ELSE ascii(substr(h, 10, 1)) - 48 END) * 65536 + (CASE WHEN ascii(substr(h, 11, 1)) >= 97 THEN ascii(substr(h, 11, 1)) - 87 ELSE ascii(substr(h, 11, 1)) - 48 END) * 4096 + (CASE WHEN ascii(substr(h, 12, 1)) >= 97 THEN ascii(substr(h, 12, 1)) - 87 ELSE ascii(substr(h, 12, 1)) - 48 END) * 256 + (CASE WHEN ascii(substr(h, 13, 1)) >= 97 THEN ascii(substr(h, 13, 1)) - 87 ELSE ascii(substr(h, 13, 1)) - 48 END) * 16 + (CASE WHEN ascii(substr(h, 14, 1)) >= 97 THEN ascii(substr(h, 14, 1)) - 87 ELSE ascii(substr(h, 14, 1)) - 48 END) * 1) % 4096 AS p1,
                          ((CASE WHEN ascii(substr(h, 15, 1)) >= 97 THEN ascii(substr(h, 15, 1)) - 87 ELSE ascii(substr(h, 15, 1)) - 48 END) * 16777216 + (CASE WHEN ascii(substr(h, 16, 1)) >= 97 THEN ascii(substr(h, 16, 1)) - 87 ELSE ascii(substr(h, 16, 1)) - 48 END) * 1048576 + (CASE WHEN ascii(substr(h, 17, 1)) >= 97 THEN ascii(substr(h, 17, 1)) - 87 ELSE ascii(substr(h, 17, 1)) - 48 END) * 65536 + (CASE WHEN ascii(substr(h, 18, 1)) >= 97 THEN ascii(substr(h, 18, 1)) - 87 ELSE ascii(substr(h, 18, 1)) - 48 END) * 4096 + (CASE WHEN ascii(substr(h, 19, 1)) >= 97 THEN ascii(substr(h, 19, 1)) - 87 ELSE ascii(substr(h, 19, 1)) - 48 END) * 256 + (CASE WHEN ascii(substr(h, 20, 1)) >= 97 THEN ascii(substr(h, 20, 1)) - 87 ELSE ascii(substr(h, 20, 1)) - 48 END) * 16 + (CASE WHEN ascii(substr(h, 21, 1)) >= 97 THEN ascii(substr(h, 21, 1)) - 87 ELSE ascii(substr(h, 21, 1)) - 48 END) * 1) % 4096 AS p2
                   FROM cg),
         flag AS (SELECT doc_id, h,
                         (p0 IN (SELECT pos FROM bits)
                          AND p1 IN (SELECT pos FROM bits)
                          AND p2 IN (SELECT pos FROM bits)) AS cand,
                         h IN (SELECT h FROM bg) AS ex
                  FROM probe)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN cand THEN 1 ELSE 0 END) AS BIGINT) AS bloom_candidates,
           CAST(SUM(CASE WHEN cand AND ex THEN 1 ELSE 0 END) AS BIGINT) AS exact_hits,
           CAST(SUM(CASE WHEN cand AND NOT ex THEN 1 ELSE 0 END) AS BIGINT) AS bloom_false_positives
    FROM flag GROUP BY doc_id
    )),
    ngram_leg AS (SELECT * FROM (
    WITH norm AS (SELECT doc_id,
                         string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS tk
                  FROM documents),
         sh AS (SELECT doc_id,
                       CASE WHEN len(tk) < 13 THEN [array_to_string(tk, ' ')]
                            ELSE list_transform(generate_series(1, len(tk)-12),
                                                i -> array_to_string(tk[i:i+12], ' '))
                       END AS sg
                FROM norm),
         cg AS (SELECT doc_id, UNNEST(list_distinct(list_transform(sg, s -> md5(s)))) AS h
                FROM sh),
         bg AS (SELECT doc_id AS bench_id, h FROM cg WHERE doc_id % 50 = 0)
    SELECT c.doc_id, b.bench_id, COUNT(*) AS shared_ngrams
    FROM cg c JOIN bg b ON c.h = b.h
    GROUP BY 1, 2
    )),
    audit_leg AS (SELECT * FROM (
    WITH u AS (SELECT doc_id, source, text,
                      CAST(((CAST(CASE WHEN ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),1,1)) >= 97 THEN ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),1,1)) - 87 ELSE ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),1,1)) - 48 END AS BIGINT)) * 72057594037927936 + (CAST(CASE WHEN ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),2,1)) >= 97 THEN ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),2,1)) - 87 ELSE ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),2,1)) - 48 END AS BIGINT)) * 4503599627370496 + (CAST(CASE WHEN ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),3,1)) >= 97 THEN ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),3,1)) - 87 ELSE ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),3,1)) - 48 END AS BIGINT)) * 281474976710656 + (CAST(CASE WHEN ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),4,1)) >= 97 THEN ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),4,1)) - 87 ELSE ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),4,1)) - 48 END AS BIGINT)) * 17592186044416 + (CAST(CASE WHEN ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),5,1)) >= 97 THEN ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),5,1)) - 87 ELSE ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),5,1)) - 48 END AS BIGINT)) * 1099511627776 + (CAST(CASE WHEN ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),6,1)) >= 97 THEN ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),6,1)) - 87 ELSE ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),6,1)) - 48 END AS BIGINT)) * 68719476736 + (CAST(CASE WHEN ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),7,1)) >= 97 THEN ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),7,1)) - 87 ELSE ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),7,1)) - 48 END AS BIGINT)) * 4294967296 + (CAST(CASE WHEN ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),8,1)) >= 97 THEN ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),8,1)) - 87 ELSE ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),8,1)) - 48 END AS BIGINT)) * 268435456 + (CAST(CASE WHEN ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),9,1)) >= 97 THEN ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),9,1)) - 87 ELSE ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),9,1)) - 48 END AS BIGINT)) * 16777216 + (CAST(CASE WHEN ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),10,1)) >= 97 THEN ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),10,1)) - 87 ELSE ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),10,1)) - 48 END AS BIGINT)) * 1048576 + (CAST(CASE WHEN ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),11,1)) >= 97 THEN ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),11,1)) - 87 ELSE ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),11,1)) - 48 END AS BIGINT)) * 65536 + (CAST(CASE WHEN ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),12,1)) >= 97 THEN ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),12,1)) - 87 ELSE ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),12,1)) - 48 END AS BIGINT)) * 4096 + (CAST(CASE WHEN ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),13,1)) >= 97 THEN ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),13,1)) - 87 ELSE ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),13,1)) - 48 END AS BIGINT)) * 256 + (CAST(CASE WHEN ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),14,1)) >= 97 THEN ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),14,1)) - 87 ELSE ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),14,1)) - 48 END AS BIGINT)) * 16 + (CAST(CASE WHEN ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),15,1)) >= 97 THEN ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),15,1)) - 87 ELSE ascii(substr(substr(md5(CAST((CONCAT('exp1:', CAST(doc_id AS VARCHAR))) AS VARCHAR)), 1, 15),15,1)) - 48 END AS BIGINT)) * 1) AS BIGINT) AS h
               FROM documents),
    s AS (SELECT doc_id, source, text,
                 CASE WHEN h < 1037629354146162278 THEN 'train'
                      WHEN h < 1095275429376504627 THEN 'val'
                      ELSE 'test' END AS split
          FROM u),
    norm AS (SELECT doc_id, split, source,
                    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS tk
             FROM s WHERE split IN ('train', 'test')),
    sh AS (SELECT doc_id, split, source,
                  CASE WHEN len(tk) < 5 THEN [array_to_string(tk, ' ')]
                       ELSE list_transform(generate_series(1, len(tk)-4),
                                           i -> array_to_string(tk[i:i+4], ' '))
                  END AS sg
           FROM norm),
    cg AS (SELECT doc_id, split, source,
                  UNNEST(list_distinct(list_transform(sg, x -> md5(x)))) AS h2
           FROM sh),
    tr AS (SELECT doc_id, source, h2 FROM cg WHERE split = 'train'),
    te AS (SELECT doc_id AS bench_id, h2 FROM cg WHERE split = 'test'),
    hits AS (SELECT tr.doc_id, tr.source, te.bench_id,
                    CAST(COUNT(*) AS BIGINT) AS shared
             FROM tr JOIN te USING (h2) GROUP BY 1, 2, 3)
    SELECT source,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_contaminated_docs,
           CAST(COUNT(DISTINCT bench_id) AS BIGINT) AS n_bench_docs_hit,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(MAX(shared) AS BIGINT) AS max_shared
    FROM hits GROUP BY source
    ))
    SELECT 'bloom' AS facet,
           doc_id,
           n_grams,
           bloom_candidates,
           exact_hits,
           bloom_false_positives,
           CAST(NULL AS BIGINT) AS bench_id,
           CAST(NULL AS BIGINT) AS shared_ngrams,
           CAST(NULL AS VARCHAR) AS source,
           CAST(NULL AS BIGINT) AS n_contaminated_docs,
           CAST(NULL AS BIGINT) AS n_bench_docs_hit,
           CAST(NULL AS BIGINT) AS n_pairs,
           CAST(NULL AS BIGINT) AS max_shared
    FROM bloom_leg
    UNION ALL
    SELECT 'ngram' AS facet,
           doc_id,
           CAST(NULL AS BIGINT) AS n_grams,
           CAST(NULL AS BIGINT) AS bloom_candidates,
           CAST(NULL AS BIGINT) AS exact_hits,
           CAST(NULL AS BIGINT) AS bloom_false_positives,
           bench_id,
           shared_ngrams,
           CAST(NULL AS VARCHAR) AS source,
           CAST(NULL AS BIGINT) AS n_contaminated_docs,
           CAST(NULL AS BIGINT) AS n_bench_docs_hit,
           CAST(NULL AS BIGINT) AS n_pairs,
           CAST(NULL AS BIGINT) AS max_shared
    FROM ngram_leg
    UNION ALL
    SELECT 'audit' AS facet,
           CAST(NULL AS BIGINT) AS doc_id,
           CAST(NULL AS BIGINT) AS n_grams,
           CAST(NULL AS BIGINT) AS bloom_candidates,
           CAST(NULL AS BIGINT) AS exact_hits,
           CAST(NULL AS BIGINT) AS bloom_false_positives,
           CAST(NULL AS BIGINT) AS bench_id,
           CAST(NULL AS BIGINT) AS shared_ngrams,
           source,
           n_contaminated_docs,
           n_bench_docs_hit,
           n_pairs,
           max_shared
    FROM audit_leg
    """


def decontamination_leg(spark, sf_dir, leg: str):
    """One leg of decontamination_family, pre-union. Exposed per-leg
    so the plan pins
    (tests/test_plans.py) keep asserting each leg's own broadcast
    contract — the bloom/ngram legs BROADCAST the fixed eval suite;
    the audit leg, whose both sides are corpus-proportional, is
    pinned broadcast-free.

    - 'bloom': Bloom-gated 13-gram decontamination — the benchmark's
      m=4096-bit filter arrives as a broadcast set-bit table; only
      bloom-positive corpus n-grams reach the exact verify, and the
      output carries the false-positive accounting itself.
    - 'ngram': train/test decontamination by 13-gram collision
      (every 50th document plays the benchmark set) — a hashed
      n-gram equi-join, work ∝ colliding n-grams.
    - 'audit': deterministic 90/5/5 split assignment, then every
      train document sharing a verbatim 5-token span with a test
      document, rolled up per source via a SHUFFLE hash equi-join
      (broadcast=False: the test split is corpus-proportional)."""
    from data_frame_spark.operators.distributed import ensure_parallelism

    # the fixture parquet has ~3 row groups; ensure_parallelism
    # spreads the md5-heavy shingle work across the configured cores
    # ONLY when the scan has fewer partitions — a real corpus arrives
    # with thousands of partitions and passes through shuffle-free
    docs = ensure_parallelism(t(spark, sf_dir, "documents"))

    if leg == "bloom":
        bench = docs.where(F.col("doc_id") % 50 == 0)
        return OpDedup.bloom_contamination(
            docs, bench, "text", "doc_id", n=13, m_bits=_DECON_BLOOM_M
        )

    if leg == "ngram":
        bench = docs.where(F.col("doc_id") % 50 == 0)
        return OpDedup.ngram_contamination(docs, bench, "text", "doc_id", n=13)

    if leg == "audit":
        assigned = OpSample.assign_splits(
            docs, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05},
            salt="exp1",
        )
        return OpDedup.split_contamination_audit(
            assigned, "text", "doc_id", "split", n=5, rollup_col="source"
        )

    raise ValueError(f"unknown decontamination leg: {leg!r}")


@query("decontamination_family", oracle=_DECONTAMINATION_FAMILY_ORACLE)
def decontamination_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The three decontamination pipelines on ONE row — facets
    'bloom' (Bloom-gated exact
    13-gram decontamination: the benchmark's m=4096-bit filter
    broadcasts as its set-bit table, only bloom-positive corpus
    n-grams reach the exact verify, and the row verifies the
    false-positive accounting itself), 'ngram' (train/test
    decontamination by 13-gram collision — hashed n-gram equi-join,
    work ∝ colliding n-grams) and 'audit' (deterministic 90/5/5
    split assignment, then cross-split 5-token leakage rolled up per
    source). doc_id is shared by the bloom and ngram legs.

    The bloom and ngram legs both consume the corpus's DISTINCT
    (doc_id, md5(13-gram)) relation, and their benchmark side (every
    50th doc) is a pure FILTER of that same relation — so the
    doc-keyed shingle window + md5 + distinct pipeline is built ONCE,
    lazily localCheckpoint-ed, and passed into both legs via their
    ``corpus_grams``/``bench_grams`` parameters (one 13-gram pass
    instead of four; results identical). The audit leg (5-grams over
    the split-assigned corpus) shares nothing at n=13; it builds on a
    second driver thread so its plan construction overlaps the g13
    checkpoint's materialization — disjoint subtrees, identical
    output.

    At 100 TB the legs keep their OPPOSITE broadcast contracts, both
    pinned per-leg in tests/test_plans.py: bloom/ngram broadcast the
    FIXED eval suite (MBs at any corpus scale — the %50 fixture
    split stands in for it); the audit, where BOTH sides are
    corpus-proportional (the test split is 5% of the corpus), meets
    in a shuffle hash equi-join, broadcast-free by contract."""
    from data_frame_spark.operators.dedup import (
        _hashed_ngrams,
        bloom_contamination,
        ngram_contamination,
    )
    from data_frame_spark.operators.distributed import ensure_parallelism

    def shared_g13_legs():
        docs = ensure_parallelism(t(spark, sf_dir, "documents"))
        # the ONE shared-builder definition (never an inline rebuild —
        # the legs' contract is "exactly what _hashed_ngrams would build")
        g13 = _hashed_ngrams(docs, "text", "doc_id", 13, "doc_id").localCheckpoint(
            eager=False
        )
        bench_g = g13.where(F.col("doc_id") % 50 == 0)
        bench = docs.where(F.col("doc_id") % 50 == 0)
        return {
            "bloom": bloom_contamination(
                docs, bench, "text", "doc_id", n=13, m_bits=_DECON_BLOOM_M,
                corpus_grams=g13, bench_grams=bench_g,
            ),
            "ngram": ngram_contamination(
                docs, bench, "text", "doc_id", n=13,
                corpus_grams=g13, bench_grams=bench_g,
            ),
        }

    legs, audit = build_parallel(
        spark, shared_g13_legs, lambda: decontamination_leg(spark, sf_dir, "audit")
    )
    legs["audit"] = audit
    bloom, ngram, audit = (
        legs[leg].select(F.lit(leg).alias("facet"), "*")
        for leg in ("bloom", "ngram", "audit")
    )
    return bloom.unionByName(ngram, allowMissingColumns=True).unionByName(
        audit, allowMissingColumns=True
    )


from data_frame_spark.operators.timeseries import sql_floor_div

GAPFILL_BUCKET_US = 86400 * 1000000  # daily buckets


def gapfill_oracle_sql() -> str:
    """DuckDB twin of gapfill_daily_value
    (operators/timeseries.py:time_bucket_gapfill on per-user daily
    value buckets, 'locf' + 'linear' facets on one row). The twin
    replays the exact integer pipeline: micro quantization before
    the sum, FLOOR-division bucket index and mean (BOTH engines'
    native integer division truncates toward zero — DuckDB
    (-7)//2 = -3, verified live — so BOTH sides carry the same
    explicit floor correction; the fixture's timestamps and values
    are positive, making the corrections no-ops here, but the twin
    must state the operator's real semantics), the generate_series
    grid over each user's observed span, and the lerp through FLOOR
    of the same double expression. CTE names (gb/ga/gs/gg/gj/gw)
    disjoint from every other chain."""
    return f"""
    WITH gb0 AS (SELECT user_id, epoch_ns(ts)//1000 AS tsu,
                        CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) AS vm
                 FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
    gb AS (SELECT user_id,
                  {sql_floor_div("tsu", GAPFILL_BUCKET_US)} AS bucket,
                  vm
           FROM gb0),
    ga AS (SELECT user_id, bucket, SUM(vm) AS sm,
                  CAST(COUNT(*) AS BIGINT) AS n
           FROM gb GROUP BY 1, 2),
    gs AS (SELECT user_id, MIN(bucket) AS b0, MAX(bucket) AS b1
           FROM ga GROUP BY 1),
    gg AS (SELECT user_id, UNNEST(generate_series(b0, b1)) AS bucket FROM gs),
    gj AS (SELECT g.user_id, g.bucket, COALESCE(a.n, 0) AS n,
                  CAST({sql_floor_div("a.sm", "a.n")} AS BIGINT) AS mean_micro
           FROM gg g LEFT JOIN ga a USING (user_id, bucket)),
    gw AS (SELECT user_id, bucket, n, mean_micro,
                  LAST_VALUE(mean_micro IGNORE NULLS) OVER wb AS lv,
                  LAST_VALUE(CASE WHEN mean_micro IS NOT NULL THEN bucket END
                             IGNORE NULLS) OVER wb AS pb,
                  FIRST_VALUE(mean_micro IGNORE NULLS) OVER wf AS nv,
                  FIRST_VALUE(CASE WHEN mean_micro IS NOT NULL THEN bucket END
                              IGNORE NULLS) OVER wf AS nb
           FROM gj
           WINDOW wb AS (PARTITION BY user_id ORDER BY bucket
                         ROWS UNBOUNDED PRECEDING),
                  wf AS (PARTITION BY user_id ORDER BY bucket
                         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
    SELECT 'locf' AS facet, user_id, bucket, n, mean_micro,
           lv AS filled_micro
    FROM gw
    UNION ALL
    SELECT 'linear', user_id, bucket, n, mean_micro,
           CASE WHEN mean_micro IS NOT NULL THEN mean_micro
                WHEN lv IS NULL THEN nv
                WHEN nv IS NULL THEN lv
                ELSE CAST(FLOOR(lv + CAST(nv - lv AS DOUBLE) * (bucket - pb)
                                     / (nb - pb)) AS BIGINT)
           END
    FROM gw
    """


@query("gapfill_daily_value", oracle=gapfill_oracle_sql())
def gapfill_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regular time-bucket gap-fill (TimescaleDB's
    time_bucket_gapfill + locf()/interpolate(), re-expressed
    Spark-first in operators/timeseries.py): per-user daily value
    buckets over the events table, every bucket from each user's
    first to last observation emitted, gaps filled — facets 'locf'
    (last observation carried forward) and 'linear' (integer lerp
    between the bracketing observed buckets, FLOOR semantics,
    edge-clamped). Exact integer-micro arithmetic end-to-end; both
    the bucket index and the per-bucket mean carry an explicit
    floor-division correction on BOTH engines (Spark `div` and
    DuckDB `//` both truncate toward zero).

    No reference twin — the reference's series are densely sampled
    (SURVEY §1.2) so it never resamples; this is the net-new
    time-series leg. At 100 TB: every exchange is entity-keyed; the
    grid is calendar-bounded per entity (explode of
    sequence(min_bucket, max_bucket) from a map-combinable span
    aggregate); the forward fill is a DESC running frame (O(n), not
    the O(n²) UNBOUNDED FOLLOWING); a partitionless global grid is
    REJECTED by contract. A brute-force property test and a
    negative-input floor-division parity pin live in
    tests/test_timeseries.py."""
    from data_frame_spark.operators.timeseries import time_bucket_gapfill

    ev = t(spark, sf_dir, "events").select(
        "user_id", F.col("ts_us").alias("tsn"), "value"
    )
    legs = [
        time_bucket_gapfill(
            ev, "tsn", "value", GAPFILL_BUCKET_US, ["user_id"], fill=fill
        ).select(
            F.lit(fill).alias("facet"), "user_id", "bucket", "n",
            "mean_micro", "filled_micro",
        )
        for fill in ("locf", "linear")
    ]
    return legs[0].unionByName(legs[1])


def merge_upsert_oracle_sql() -> str:
    """DuckDB twin of merge_upsert_customers
    (operators/scd.py:merge_upsert on the customer dimension): a
    deterministic batch updates every 3rd key (prefix-tagged
    segment), deletes every 13th, and inserts supplier-derived keys
    offset into a disjoint id space (+1e9 — past the 10x replica
    fixture's 90M key ceiling, where a 20M offset collided and the
    operator's cardinality guard fired: proof the guard works) — one FULL OUTER join,
    source-wins overwrite, delete-flag drop. CTE names (mu_*)
    disjoint from every other chain."""
    return """
    WITH mu_t AS (
      SELECT CAST(c_custkey AS BIGINT) AS k, c_mktsegment AS seg
      FROM customer),
    mu_s AS (
      SELECT k, 'UPDATED_' || seg AS seg, FALSE AS del
      FROM mu_t WHERE k % 3 = 0 AND k % 13 <> 0
      UNION ALL
      SELECT k, CAST(NULL AS VARCHAR), TRUE FROM mu_t WHERE k % 13 = 0
      UNION ALL
      SELECT CAST(s_suppkey + 1000000000 AS BIGINT), 'SUPPLIER_NEW', FALSE
      FROM supplier),
    mu_j AS (
      SELECT COALESCE(t.k, s.k) AS c_custkey,
             CASE WHEN s.k IS NOT NULL THEN s.seg ELSE t.seg END
                 AS c_mktsegment,
             COALESCE(s.del, FALSE) AS del
      FROM mu_t t FULL OUTER JOIN mu_s s ON t.k = s.k)
    SELECT c_custkey, c_mktsegment FROM mu_j WHERE NOT del
    """


@query("merge_upsert_customers", oracle=merge_upsert_oracle_sql())
def merge_upsert_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL MERGE INTO (SCD1 source-wins upsert,
    operators/scd.py:merge_upsert) on the customer dimension — a
    deterministic batch of updates (every custkey % 3 == 0 not
    % 13 == 0 gets an UPDATED_ segment, NULL-bearing updates
    overwrite), delete flags (custkey % 13 == 0 drops) and inserts
    (suppliers offset past the key space) applied in one pass.
    Completes the dimension-maintenance trio with scd2_customer_dim
    (effective-dated history) and table_diff_customers (snapshot
    reconciliation). Duplicate source keys raise loudly (cardinality
    violation).

    At 100 TB: one batch-sized source-count window + ONE
    key-partitioned full-outer join; no broadcast, no collect.
    Branch unit tests and a randomized NULL-bearing property test vs
    a brute-force merge live in tests/test_scd.py."""
    from data_frame_spark.operators.scd import merge_upsert

    cust = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("c_custkey"), "c_mktsegment"
    )
    k = F.col("c_custkey")
    upd = cust.where((k % 3 == 0) & (k % 13 != 0)).select(
        "c_custkey",
        F.concat(F.lit("UPDATED_"), F.col("c_mktsegment")).alias("c_mktsegment"),
        F.lit(False).alias("del"),
    )
    dels = cust.where(k % 13 == 0).select(
        "c_custkey",
        F.lit(None).cast("string").alias("c_mktsegment"),
        F.lit(True).alias("del"),
    )
    ins = t(spark, sf_dir, "supplier").select(
        (F.col("s_suppkey") + 1_000_000_000).cast("long").alias("c_custkey"),
        F.lit("SUPPLIER_NEW").alias("c_mktsegment"),
        F.lit(False).alias("del"),
    )
    src = upd.unionByName(dels).unionByName(ins)
    return merge_upsert(cust, src, ["c_custkey"], ["c_mktsegment"], "del")


# ---------------------------------------------------------------------------
# the binary-features family merge and the pivot/melt reshape surface
# (docs/PLANS.md §"Round-17 slot funding")
# ---------------------------------------------------------------------------


#: Frozen snapshot of the facet union of the retired
#: binary_metadata_docs and byte_features_docs oracles (md5-pinned in
#: tests/test_oracle_prep.py).
_BINARY_FEATURES_FAMILY_ORACLE = """
    WITH meta_leg AS (SELECT * FROM (
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5
    FROM documents
    )),
    features_leg AS (SELECT * FROM (
    WITH b AS (SELECT doc_id, hex(encode(text)) AS hx,
                      octet_length(encode(text)) AS n
               FROM documents),
         pos AS (SELECT doc_id, hx, n,
                        UNNEST(generate_series(1, CAST(n AS BIGINT))) AS i
                 FROM b),
         ch AS (SELECT doc_id, n,
                       strpos('0123456789ABCDEF',
                              substr(hx, CAST(2*i-1 AS INT), 1)) - 1 AS nib
                FROM pos),
         hist AS (SELECT doc_id, MIN(n) AS n, nib, COUNT(*) AS c
                  FROM ch GROUP BY doc_id, nib),
         feat AS (SELECT doc_id,
                         ROUND(-SUM((CAST(c AS DOUBLE) / n)
                                    * log2(CAST(c AS DOUBLE) / n)), 9)
                           + 0.0 AS entropy
                  FROM hist GROUP BY doc_id, n)
    SELECT b.doc_id, CAST(b.n AS BIGINT) AS n_bytes,
           COALESCE(feat.entropy, 0.0) AS entropy
    FROM b LEFT JOIN feat ON b.doc_id = feat.doc_id
    ))
    SELECT 'meta' AS facet, doc_id, CAST(n_bytes AS BIGINT) AS n_bytes,
           content_md5, CAST(NULL AS DOUBLE) AS entropy
    FROM meta_leg
    UNION ALL
    SELECT 'features', doc_id, CAST(n_bytes AS BIGINT),
           CAST(NULL AS VARCHAR), entropy
    FROM features_leg
    """


def binary_features_leg(spark, sf_dir, leg: str):
    """One leg of binary_features_family, pre-union. Exposed per-leg
    so plan assertions can target each pipeline without the union."""
    if leg not in ("meta", "features"):
        raise ValueError(f"unknown binary_features leg: {leg!r}")

    from data_frame_spark.operators import multimodal as OpMulti

    docs = t(spark, sf_dir, "documents").withColumn(
        "payload", F.encode(F.col("text"), "UTF-8")
    )
    if leg == "meta":
        out = OpMulti.attach_metadata(docs, "payload")
        return out.select(
            "doc_id",
            F.col("meta.n_bytes").alias("n_bytes"),
            F.col("meta.content_md5").alias("content_md5"),
        )
    out = OpMulti.byte_features(docs, "payload")
    return out.select(
        "doc_id", "n_bytes",
        (F.round("entropy", 9) + F.lit(0.0)).alias("entropy"),
    )


@query("binary_features_family", oracle=_BINARY_FEATURES_FAMILY_ORACLE)
def binary_features_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two multimodal doc-level pipelines on ONE row — facets
    'meta' (binary-column metadata plumbing: size + content
    hash over the encoded payload, pure Column ops) and 'features'
    (Arrow-batched byte-histogram + Shannon entropy over the payload
    via mapInPandas — the codec-free decode-stage plumbing; the
    16-bin histogram array itself is pytest-covered since the
    driver's pandas canonicalizer can't factorize list cells, so the
    facet emits the scalar features). Entropy ROUND(...,9) + 0.0:
    numpy sums bins in index order, SQL in group order — identical to
    well under 1e-9; +0.0 normalizes a potential -0.0. The oracle's
    features leg indexes UTF-8 BYTES (high nibble of byte i = hex
    digit 2i-1 of the hex-encoded payload), so non-ASCII documents
    match the numpy byte histogram exactly. n_bytes is the SHARED
    column, unified to BIGINT (the metadata leg's INTEGER widens;
    values identical).

    At 100 TB both legs are embarrassingly parallel per-document
    scans — zero joins, zero exchanges before the union (the union
    itself is plan-level, no shuffle); the features leg's Python cost
    rides Arrow batches, not rows. Per-leg plan pins in
    tests/test_plans.py (exchange-free meta leg; Arrow-eval features
    leg) via :func:`binary_features_leg`."""
    meta = binary_features_leg(spark, sf_dir, "meta").select(
        F.lit("meta").alias("facet"), "doc_id",
        F.col("n_bytes").cast("long").alias("n_bytes"), "content_md5",
    )
    feats = binary_features_leg(spark, sf_dir, "features").select(
        F.lit("features").alias("facet"), "doc_id", "n_bytes", "entropy"
    )
    return meta.unionByName(feats, allowMissingColumns=True)


#: the TPC-H order-priority attribute domain — the EXPLICIT pivot
#: value list (bounded by spec, not by data)
PIVOT_PRIORITIES = [
    "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW",
]


def pivot_melt_oracle_sql() -> str:
    """DuckDB twin of pivot_melt_orders
    (operators/reshape.py): orders pivoted to a status × priority
    count matrix over the EXPLICIT priority domain, then melted back
    to long — so the twin is simply the domain grid LEFT-joined to
    the grouped counts (absent combinations stay NULL, exactly the
    pivot's empty cells carried through the melt). CTE names (pv_*)
    disjoint from every other chain."""
    vals = ", ".join(f"'{v}'" for v in PIVOT_PRIORITIES)
    return f"""
    WITH pv_s AS (SELECT DISTINCT o_orderstatus FROM orders),
    pv_d AS (SELECT UNNEST([{vals}]) AS o_orderpriority),
    pv_c AS (SELECT o_orderstatus, o_orderpriority,
                    CAST(COUNT(*) AS BIGINT) AS n
             FROM orders GROUP BY 1, 2)
    SELECT s.o_orderstatus, d.o_orderpriority, c.n
    FROM pv_s s CROSS JOIN pv_d d
    LEFT JOIN pv_c c USING (o_orderstatus, o_orderpriority)
    """


@query("pivot_melt_orders", oracle=pivot_melt_oracle_sql())
def pivot_melt_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reshape surface (operators/reshape.py pivot + melt — the
    df-pivot/df-unpivot pair the reference's single-frame model keeps
    implicit in its grouping helpers): orders pivoted to a
    status × priority count matrix over the EXPLICIT TPC-H priority
    domain (``PIVOT_PRIORITIES`` — bounded by spec, not by
    data, so the wide schema is plan-time fixed and collect-free),
    then melted straight back to long, proving the round trip is
    lossless INCLUDING the empty cells (absent combinations stay
    NULL through pivot AND melt). Oracle: the domain grid
    LEFT-joined to the grouped counts — exactly the pivot's empty
    cells carried through the melt.

    At 100 TB: the pivot's documented two-aggregate shape
    (operators/reshape.py module docstring, pinned in
    tests/test_reshape.py) — ONE data-sized (status, priority) cell
    aggregate exchange with map-side partials, then the pivotfirst
    column-assembly exchange whose input is already reduced to
    |statuses| × |priorities| rows (bounded by the declared domain,
    not the data); no distinct-scan for values (the collect-free
    contract); the melt is a pure map-side Expand, zero additional
    exchanges. Guard/round-trip/plan unit tests live in
    tests/test_reshape.py."""
    from data_frame_spark.operators.reshape import melt, pivot

    orders = t(spark, sf_dir, "orders")
    wide = pivot(
        orders, ["o_orderstatus"], "o_orderpriority",
        PIVOT_PRIORITIES, F.count(F.lit(1)),
    )
    return melt(
        wide, ["o_orderstatus"], PIVOT_PRIORITIES,
        "o_orderpriority", "n",
    )


# ---------------------------------------------------------------------------
# the fits family merge and the binary-ingest and PSI surfaces
# (docs/PLANS.md §"Round-18 slot funding")
# ---------------------------------------------------------------------------


#: Frozen snapshot of the facet union of the retired fit and
#: fit-residual oracles (md5-pinned in tests/test_oracle_prep.py). The
#: moment-vocabulary SQL inside is GENERATED text, frozen verbatim so
#: the registered oracle can never drift.
_FITS_FAMILY_ORACLE = """
    WITH fits_leg AS (SELECT * FROM (
    WITH d AS (SELECT CAST(l_quantity AS DOUBLE) AS x,
                      CAST(l_extendedprice AS DOUBLE) AS y
               FROM lineitem
               WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
         m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, CAST(CAST(SUM(CAST(FLOOR((x) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS sx1, CAST(CAST(SUM(CAST(FLOOR((x*x) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS sx2, CAST(CAST(SUM(CAST(FLOOR((x*x*x) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS sx3, CAST(CAST(SUM(CAST(FLOOR((x*x*x*x) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS sx4, CAST(CAST(SUM(CAST(FLOOR((x*x*x*x*x) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS sx5, CAST(CAST(SUM(CAST(FLOOR((x*x*x*x*x*x) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS sx6, CAST(CAST(SUM(CAST(FLOOR((y) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS sy, CAST(CAST(SUM(CAST(FLOOR((y*y) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS sy2, CAST(CAST(SUM(CAST(FLOOR((x*y) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS sxy1, CAST(CAST(SUM(CAST(FLOOR((x*x*y) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS sxy2, CAST(CAST(SUM(CAST(FLOOR((x*x*x*y) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS sxy3, CAST(CAST(SUM(CAST(FLOOR((LN(x)) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS slnx, CAST(CAST(SUM(CAST(FLOOR((LN(x)*LN(x)) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS slnx2, CAST(CAST(SUM(CAST(FLOOR((y*LN(x)) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS sylnx, CAST(CAST(SUM(CAST(FLOOR((LN(x)*LN(y)) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS slxly, CAST(CAST(SUM(CAST(FLOOR((LN(y)) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS slny FROM d),
         ed AS (SELECT (epoch_ns(ts)//1000)/1000000.0/86400.0 AS x,
                       CAST(value AS DOUBLE) AS y
                FROM events WHERE value IS NOT NULL),
         emn AS (SELECT MIN(y) AS miny FROM ed),
         es AS (SELECT x,
                       y + (CASE WHEN emn.miny < 0.1 THEN -emn.miny + 0.1 ELSE 0.0 END) AS y1
                FROM ed CROSS JOIN emn),
         em AS (SELECT CAST(CAST(SUM(CAST(FLOOR((x*x*y1) * 1000000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 1000000.0 AS sxxy, CAST(CAST(SUM(CAST(FLOOR((x*y1) * 1000000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 1000000.0 AS sxy,
                       CAST(CAST(SUM(CAST(FLOOR((y1*LN(y1)) * 1000000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 1000000.0 AS sylny, CAST(CAST(SUM(CAST(FLOOR((x*y1*LN(y1)) * 1000000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 1000000.0 AS sxylny,
                       CAST(CAST(SUM(CAST(FLOOR((y1) * 1000000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 1000000.0 AS sey
                FROM es)
    SELECT 'linear' AS kind, ((sy * sx2) - (sx1 * sxy1)) / ((n * sx2) - (sx1 * sx1)) AS c0, ((n * sxy1) - (sy * sx1)) / ((n * sx2) - (sx1 * sx1)) AS c1, CAST(NULL AS DOUBLE) AS c2, CAST(NULL AS DOUBLE) AS c3, CAST(NULL AS DOUBLE) AS r FROM m UNION ALL SELECT 'log' AS kind, ROUND((sy - ((((n * sylnx) - (sy * slnx)) / ((n * slnx2) - (slnx * slnx))) * slnx)) / n, 6) AS c0, ROUND(((n * sylnx) - (sy * slnx)) / ((n * slnx2) - (slnx * slnx)), 6) AS c1, CAST(NULL AS DOUBLE) AS c2, CAST(NULL AS DOUBLE) AS c3, CAST(NULL AS DOUBLE) AS r FROM m UNION ALL SELECT 'poly2' AS kind, (((sy * ((sx2 * sx4) - (sx3 * sx3))) - (sx1 * ((sxy1 * sx4) - (sx3 * sxy2)))) + (sx2 * ((sxy1 * sx3) - (sx2 * sxy2)))) / (((n * ((sx2 * sx4) - (sx3 * sx3))) - (sx1 * ((sx1 * sx4) - (sx3 * sx2)))) + (sx2 * ((sx1 * sx3) - (sx2 * sx2)))) AS c0, (((n * ((sxy1 * sx4) - (sx3 * sxy2))) - (sy * ((sx1 * sx4) - (sx3 * sx2)))) + (sx2 * ((sx1 * sxy2) - (sxy1 * sx2)))) / (((n * ((sx2 * sx4) - (sx3 * sx3))) - (sx1 * ((sx1 * sx4) - (sx3 * sx2)))) + (sx2 * ((sx1 * sx3) - (sx2 * sx2)))) AS c1, (((n * ((sx2 * sxy2) - (sxy1 * sx3))) - (sx1 * ((sx1 * sxy2) - (sxy1 * sx2)))) + (sy * ((sx1 * sx3) - (sx2 * sx2)))) / (((n * ((sx2 * sx4) - (sx3 * sx3))) - (sx1 * ((sx1 * sx4) - (sx3 * sx2)))) + (sx2 * ((sx1 * sx3) - (sx2 * sx2)))) AS c2, CAST(NULL AS DOUBLE) AS c3, CAST(NULL AS DOUBLE) AS r FROM m UNION ALL SELECT 'poly3' AS kind, ((((sy * (((sx2 * ((sx4 * sx6) - (sx5 * sx5))) - (sx3 * ((sx3 * sx6) - (sx5 * sx4)))) + (sx4 * ((sx3 * sx5) - (sx4 * sx4))))) - (sx1 * (((sxy1 * ((sx4 * sx6) - (sx5 * sx5))) - (sx3 * ((sxy2 * sx6) - (sx5 * sxy3)))) + (sx4 * ((sxy2 * sx5) - (sx4 * sxy3)))))) + (sx2 * (((sxy1 * ((sx3 * sx6) - (sx5 * sx4))) - (sx2 * ((sxy2 * sx6) - (sx5 * sxy3)))) + (sx4 * ((sxy2 * sx4) - (sx3 * sxy3)))))) - (sx3 * (((sxy1 * ((sx3 * sx5) - (sx4 * sx4))) - (sx2 * ((sxy2 * sx5) - (sx4 * sxy3)))) + (sx3 * ((sxy2 * sx4) - (sx3 * sxy3)))))) / ((((n * (((sx2 * ((sx4 * sx6) - (sx5 * sx5))) - (sx3 * ((sx3 * sx6) - (sx5 * sx4)))) + (sx4 * ((sx3 * sx5) - (sx4 * sx4))))) - (sx1 * (((sx1 * ((sx4 * sx6) - (sx5 * sx5))) - (sx3 * ((sx2 * sx6) - (sx5 * sx3)))) + (sx4 * ((sx2 * sx5) - (sx4 * sx3)))))) + (sx2 * (((sx1 * ((sx3 * sx6) - (sx5 * sx4))) - (sx2 * ((sx2 * sx6) - (sx5 * sx3)))) + (sx4 * ((sx2 * sx4) - (sx3 * sx3)))))) - (sx3 * (((sx1 * ((sx3 * sx5) - (sx4 * sx4))) - (sx2 * ((sx2 * sx5) - (sx4 * sx3)))) + (sx3 * ((sx2 * sx4) - (sx3 * sx3)))))) AS c0, ((((n * (((sxy1 * ((sx4 * sx6) - (sx5 * sx5))) - (sx3 * ((sxy2 * sx6) - (sx5 * sxy3)))) + (sx4 * ((sxy2 * sx5) - (sx4 * sxy3))))) - (sy * (((sx1 * ((sx4 * sx6) - (sx5 * sx5))) - (sx3 * ((sx2 * sx6) - (sx5 * sx3)))) + (sx4 * ((sx2 * sx5) - (sx4 * sx3)))))) + (sx2 * (((sx1 * ((sxy2 * sx6) - (sx5 * sxy3))) - (sxy1 * ((sx2 * sx6) - (sx5 * sx3)))) + (sx4 * ((sx2 * sxy3) - (sxy2 * sx3)))))) - (sx3 * (((sx1 * ((sxy2 * sx5) - (sx4 * sxy3))) - (sxy1 * ((sx2 * sx5) - (sx4 * sx3)))) + (sx3 * ((sx2 * sxy3) - (sxy2 * sx3)))))) / ((((n * (((sx2 * ((sx4 * sx6) - (sx5 * sx5))) - (sx3 * ((sx3 * sx6) - (sx5 * sx4)))) + (sx4 * ((sx3 * sx5) - (sx4 * sx4))))) - (sx1 * (((sx1 * ((sx4 * sx6) - (sx5 * sx5))) - (sx3 * ((sx2 * sx6) - (sx5 * sx3)))) + (sx4 * ((sx2 * sx5) - (sx4 * sx3)))))) + (sx2 * (((sx1 * ((sx3 * sx6) - (sx5 * sx4))) - (sx2 * ((sx2 * sx6) - (sx5 * sx3)))) + (sx4 * ((sx2 * sx4) - (sx3 * sx3)))))) - (sx3 * (((sx1 * ((sx3 * sx5) - (sx4 * sx4))) - (sx2 * ((sx2 * sx5) - (sx4 * sx3)))) + (sx3 * ((sx2 * sx4) - (sx3 * sx3)))))) AS c1, ((((n * (((sx2 * ((sxy2 * sx6) - (sx5 * sxy3))) - (sxy1 * ((sx3 * sx6) - (sx5 * sx4)))) + (sx4 * ((sx3 * sxy3) - (sxy2 * sx4))))) - (sx1 * (((sx1 * ((sxy2 * sx6) - (sx5 * sxy3))) - (sxy1 * ((sx2 * sx6) - (sx5 * sx3)))) + (sx4 * ((sx2 * sxy3) - (sxy2 * sx3)))))) + (sy * (((sx1 * ((sx3 * sx6) - (sx5 * sx4))) - (sx2 * ((sx2 * sx6) - (sx5 * sx3)))) + (sx4 * ((sx2 * sx4) - (sx3 * sx3)))))) - (sx3 * (((sx1 * ((sx3 * sxy3) - (sxy2 * sx4))) - (sx2 * ((sx2 * sxy3) - (sxy2 * sx3)))) + (sxy1 * ((sx2 * sx4) - (sx3 * sx3)))))) / ((((n * (((sx2 * ((sx4 * sx6) - (sx5 * sx5))) - (sx3 * ((sx3 * sx6) - (sx5 * sx4)))) + (sx4 * ((sx3 * sx5) - (sx4 * sx4))))) - (sx1 * (((sx1 * ((sx4 * sx6) - (sx5 * sx5))) - (sx3 * ((sx2 * sx6) - (sx5 * sx3)))) + (sx4 * ((sx2 * sx5) - (sx4 * sx3)))))) + (sx2 * (((sx1 * ((sx3 * sx6) - (sx5 * sx4))) - (sx2 * ((sx2 * sx6) - (sx5 * sx3)))) + (sx4 * ((sx2 * sx4) - (sx3 * sx3)))))) - (sx3 * (((sx1 * ((sx3 * sx5) - (sx4 * sx4))) - (sx2 * ((sx2 * sx5) - (sx4 * sx3)))) + (sx3 * ((sx2 * sx4) - (sx3 * sx3)))))) AS c2, ((((n * (((sx2 * ((sx4 * sxy3) - (sxy2 * sx5))) - (sx3 * ((sx3 * sxy3) - (sxy2 * sx4)))) + (sxy1 * ((sx3 * sx5) - (sx4 * sx4))))) - (sx1 * (((sx1 * ((sx4 * sxy3) - (sxy2 * sx5))) - (sx3 * ((sx2 * sxy3) - (sxy2 * sx3)))) + (sxy1 * ((sx2 * sx5) - (sx4 * sx3)))))) + (sx2 * (((sx1 * ((sx3 * sxy3) - (sxy2 * sx4))) - (sx2 * ((sx2 * sxy3) - (sxy2 * sx3)))) + (sxy1 * ((sx2 * sx4) - (sx3 * sx3)))))) - (sy * (((sx1 * ((sx3 * sx5) - (sx4 * sx4))) - (sx2 * ((sx2 * sx5) - (sx4 * sx3)))) + (sx3 * ((sx2 * sx4) - (sx3 * sx3)))))) / ((((n * (((sx2 * ((sx4 * sx6) - (sx5 * sx5))) - (sx3 * ((sx3 * sx6) - (sx5 * sx4)))) + (sx4 * ((sx3 * sx5) - (sx4 * sx4))))) - (sx1 * (((sx1 * ((sx4 * sx6) - (sx5 * sx5))) - (sx3 * ((sx2 * sx6) - (sx5 * sx3)))) + (sx4 * ((sx2 * sx5) - (sx4 * sx3)))))) + (sx2 * (((sx1 * ((sx3 * sx6) - (sx5 * sx4))) - (sx2 * ((sx2 * sx6) - (sx5 * sx3)))) + (sx4 * ((sx2 * sx4) - (sx3 * sx3)))))) - (sx3 * (((sx1 * ((sx3 * sx5) - (sx4 * sx4))) - (sx2 * ((sx2 * sx5) - (sx4 * sx3)))) + (sx3 * ((sx2 * sx4) - (sx3 * sx3)))))) AS c3, CAST(NULL AS DOUBLE) AS r FROM m UNION ALL SELECT 'power' AS kind, ROUND(EXP((slny - ((((n * slxly) - (slnx * slny)) / ((n * slnx2) - (slnx * slnx))) * slnx)) / n), 6) AS c0, ROUND(((n * slxly) - (slnx * slny)) / ((n * slnx2) - (slnx * slnx)), 6) AS c1, CAST(NULL AS DOUBLE) AS c2, CAST(NULL AS DOUBLE) AS c3, CAST(NULL AS DOUBLE) AS r FROM m UNION ALL SELECT 'slr' AS kind, ((sy / n) - ((((sxy1 - ((sx1 * sy) / n)) / SQRT(((sx2 - ((sx1 * sx1) / n)) * (sy2 - ((sy * sy) / n))))) * SQRT(((sy2 - ((sy * sy) / n)) / (sx2 - ((sx1 * sx1) / n))))) * (sx1 / n))) AS c0, (((sxy1 - ((sx1 * sy) / n)) / SQRT(((sx2 - ((sx1 * sx1) / n)) * (sy2 - ((sy * sy) / n))))) * SQRT(((sy2 - ((sy * sy) / n)) / (sx2 - ((sx1 * sx1) / n))))) AS c1, CAST(NULL AS DOUBLE) AS c2, CAST(NULL AS DOUBLE) AS c3, ((sxy1 - ((sx1 * sy) / n)) / SQRT(((sx2 - ((sx1 * sx1) / n)) * (sy2 - ((sy * sy) / n))))) AS r FROM m UNION ALL 
    SELECT 'exp' AS kind,
           ROUND(EXP((sxxy * sylny - sxy * sxylny) / (sey * sxxy - sxy * sxy)), 6) AS c0,
           ROUND((sey * sxylny - sxy * sylny) / (sey * sxxy - sxy * sxy), 6) AS c1,
           ROUND((SELECT CASE WHEN miny < 0.1 THEN miny - 0.1 ELSE 0.0 END FROM emn), 6) AS c2,
           CAST(NULL AS DOUBLE) AS c3, CAST(NULL AS DOUBLE) AS r
    FROM em
    
    )),
    residuals_leg AS (SELECT * FROM (
    WITH d AS (SELECT CAST(l_quantity AS DOUBLE) AS x,
                      CAST(l_extendedprice AS DOUBLE) AS y
               FROM lineitem
               WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
         m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, CAST(CAST(SUM(CAST(FLOOR((x) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS sx1, CAST(CAST(SUM(CAST(FLOOR((x*x) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS sx2, CAST(CAST(SUM(CAST(FLOOR((x*x*x) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS sx3, CAST(CAST(SUM(CAST(FLOOR((x*x*x*x) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS sx4, CAST(CAST(SUM(CAST(FLOOR((x*x*x*x*x) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS sx5, CAST(CAST(SUM(CAST(FLOOR((x*x*x*x*x*x) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS sx6, CAST(CAST(SUM(CAST(FLOOR((y) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS sy, CAST(CAST(SUM(CAST(FLOOR((y*y) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS sy2, CAST(CAST(SUM(CAST(FLOOR((x*y) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS sxy1, CAST(CAST(SUM(CAST(FLOOR((x*x*y) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS sxy2, CAST(CAST(SUM(CAST(FLOOR((x*x*x*y) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS sxy3, CAST(CAST(SUM(CAST(FLOOR((LN(x)) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS slnx, CAST(CAST(SUM(CAST(FLOOR((LN(x)*LN(x)) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS slnx2, CAST(CAST(SUM(CAST(FLOOR((y*LN(x)) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS sylnx, CAST(CAST(SUM(CAST(FLOOR((LN(x)*LN(y)) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS slxly, CAST(CAST(SUM(CAST(FLOOR((LN(y)) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS slny FROM d),
         a AS (SELECT ((sy * sx2) - (sx1 * sxy1)) / ((n * sx2) - (sx1 * sx1)) AS l0, ((n * sxy1) - (sy * sx1)) / ((n * sx2) - (sx1 * sx1)) AS l1,
                      (((sy * ((sx2 * sx4) - (sx3 * sx3))) - (sx1 * ((sxy1 * sx4) - (sx3 * sxy2)))) + (sx2 * ((sxy1 * sx3) - (sx2 * sxy2)))) / (((n * ((sx2 * sx4) - (sx3 * sx3))) - (sx1 * ((sx1 * sx4) - (sx3 * sx2)))) + (sx2 * ((sx1 * sx3) - (sx2 * sx2)))) AS q0, (((n * ((sxy1 * sx4) - (sx3 * sxy2))) - (sy * ((sx1 * sx4) - (sx3 * sx2)))) + (sx2 * ((sx1 * sxy2) - (sxy1 * sx2)))) / (((n * ((sx2 * sx4) - (sx3 * sx3))) - (sx1 * ((sx1 * sx4) - (sx3 * sx2)))) + (sx2 * ((sx1 * sx3) - (sx2 * sx2)))) AS q1, (((n * ((sx2 * sxy2) - (sxy1 * sx3))) - (sx1 * ((sx1 * sxy2) - (sxy1 * sx2)))) + (sy * ((sx1 * sx3) - (sx2 * sx2)))) / (((n * ((sx2 * sx4) - (sx3 * sx3))) - (sx1 * ((sx1 * sx4) - (sx3 * sx2)))) + (sx2 * ((sx1 * sx3) - (sx2 * sx2)))) AS q2 FROM m)
    SELECT 'linear' AS kind, CAST(CAST(SUM(CAST(FLOOR(((y - (l0 + (l1 * x))) * (y - (l0 + (l1 * x)))) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS sse,
           CAST(COUNT(*) AS BIGINT) AS n_points
    FROM d CROSS JOIN a
    UNION ALL
    SELECT 'poly2' AS kind, CAST(CAST(SUM(CAST(FLOOR(((y - ((q0 + (q1 * x)) + ((q2 * x) * x))) * (y - ((q0 + (q1 * x)) + ((q2 * x) * x)))) * 10000.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 10000.0 AS sse,
           CAST(COUNT(*) AS BIGINT) AS n_points
    FROM d CROSS JOIN a
    ))
    SELECT 'fits' AS facet, kind, c0, c1, c2, c3, r,
           CAST(NULL AS DOUBLE) AS sse, CAST(NULL AS BIGINT) AS n_points
    FROM fits_leg
    UNION ALL
    SELECT 'residuals', kind, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           sse, n_points
    FROM residuals_leg
    """


@query("fits_family", oracle=_FITS_FAMILY_ORACLE)
def fits_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The df-least-squares-fit family + simple-linear-regression +
    the fit RESIDUAL pass on ONE row — facets 'fits'
    (least-squares-fit.rkt:34-41,96-121,156-196; slr.rkt:32-39: kinds
    linear/log/poly2/poly3/power/slr over lineitem + the 'exp kind
    over events with the reference's miny<0.1 shift) and 'residuals'
    (least-squares-fit.rkt:226-229, operators/fit.py:199: Σ(y − ŷ)²
    for the linear and Vandermonde-poly2 fits — the goal function the
    annealing refinement minimizes).

    SHARED-MOMENT form (the meanmax shared-ladder precedent, A/B'd at
    r17 close: 3.21 s vs the 4-scan composition's 3.95 s, outputs
    bit-identical): ONE 13-moment scale-4-quantized lineitem
    aggregate feeds BOTH the fit coefficients and the residual leg's
    linear/poly2 coefficients (the residuals row's former moment set
    is a bit-identical subset — same dsum expressions, same scale),
    then the events exp aggregate and ONE residual aggregate. `kind`
    is the SHARED column (both legs emit per-fit-kind rows); c0..c3/r
    are NULL on the residuals leg and sse/n_points on the fits leg.
    The events exp-fit collect is independent of the lineitem moment
    chain, so a second driver thread runs it beside the moment
    collect (the residual aggregate depends on the moments and stays
    after them); both are exact quantized aggregates, so scheduling
    cannot affect any value.

    100 TB shape: three map-combinable whole-frame aggregates (no
    shuffle wider than one row at any row count) + driver-side
    closed-form coefficient math on the collected moment row."""
    import math

    li = t(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("double")
    y = F.col("l_extendedprice").cast("double")
    d = li.where(x.isNotNull() & y.isNotNull()).select(
        x.alias("x"), y.alias("y")
    )
    X, Y = F.col("x"), F.col("y")
    # x^k by left-associated repeated multiplication — the identical
    # expression tree both parents (and the oracle) use
    xpow = {1: X}
    for k in range(2, 7):
        xpow[k] = xpow[k - 1] * X
    sparkexpr = {
        "n": F.count(F.lit(1)).cast("double"),
        **{f"sx{k}": dsum(xpow[k], 4) for k in range(1, 7)},
        "sy": dsum(Y, 4),
        "sy2": dsum(Y * Y, 4),
        "sxy1": dsum(X * Y, 4),
        "sxy2": dsum(X * X * Y, 4),
        "sxy3": dsum(X * X * X * Y, 4),
        "slnx": dsum(F.log(X), 4),
        "slnx2": dsum(F.log(X) * F.log(X), 4),
        "sylnx": dsum(Y * F.log(X), 4),
        "slxly": dsum(F.log(X) * F.log(Y), 4),
        "slny": dsum(F.log(Y), 4),
    }
    # the events exp fit shares nothing with the lineitem moments —
    # its collect runs beside the moment collect
    def moments():
        return d.agg(*[e.alias(k) for k, e in sparkexpr.items()]).collect()[0].asDict()

    def exp_fit():
        ev = t(spark, sf_dir, "events").select(
            (F.col("ts_us") / F.lit(1000000.0) / F.lit(86400.0)).alias("x"),
            F.col("value").alias("y"),
        )
        return OpFit.least_squares_fit(ev, "x", "y", mode="exp")

    m, efit = build_parallel(spark, moments, exp_fit)
    mv = [m["n"]] + [m[f"sx{k}"] for k in range(1, 7)]
    rhs = [m["sy"], m["sxy1"], m["sxy2"], m["sxy3"]]
    lin = [num / den for num, den in _cramer(mv[:3], rhs[:2], 1)]
    p2 = [num / den for num, den in _cramer(mv[:5], rhs[:3], 2)]
    p3 = [num / den for num, den in _cramer(mv[:7], rhs[:4], 3)]
    n, sx1, sx2s = m["n"], m["sx1"], m["sx2"]
    covn = m["sxy1"] - ((sx1 * m["sy"]) / n)
    vxn = sx2s - ((sx1 * sx1) / n)
    vyn = m["sy2"] - ((m["sy"] * m["sy"]) / n)
    slr_r = covn / math.sqrt(vxn * vyn)
    slr_b = slr_r * math.sqrt(vyn / vxn)
    slr_a = (m["sy"] / n) - (slr_b * (sx1 / n))
    log_b = ((n * m["sylnx"]) - (m["sy"] * m["slnx"])) / (
        (n * m["slnx2"]) - (m["slnx"] * m["slnx"])
    )
    log_a = (m["sy"] - (log_b * m["slnx"])) / n
    pwr_b = ((n * m["slxly"]) - (m["slnx"] * m["slny"])) / (
        (n * m["slnx2"]) - (m["slnx"] * m["slnx"])
    )
    pwr_a = math.exp((m["slny"] - (pwr_b * m["slnx"])) / n)
    rows = [
        ("linear", lin[0], lin[1], None, None, None),
        ("log", _round6(log_a), _round6(log_b), None, None, None),
        ("poly2", p2[0], p2[1], p2[2], None, None),
        ("poly3", p3[0], p3[1], p3[2], p3[3], None),
        ("power", _round6(pwr_a), _round6(pwr_b), None, None, None),
        ("slr", slr_a, slr_b, None, None, slr_r),
    ]
    ea, eb, ec = efit.coefficients
    rows.append(
        ("exp", _round6(ea), _round6(eb), _round6(float(ec)), None, None)
    )
    fits = local_frame(
        spark,
        rows,
        "kind string, c0 double, c1 double, c2 double, c3 double, r double",
    )
    # residual pass on the SAME collected moments (bit-identical
    # coefficients: fit_residuals' mv[:3]/mv[:5] are built from
    # sx1..sx4 — the identical quantized values)
    rl = Y - (F.lit(lin[0]) + (F.lit(lin[1]) * X))
    rq = Y - ((F.lit(p2[0]) + (F.lit(p2[1]) * X)) + ((F.lit(p2[2]) * X) * X))
    row = d.agg(
        dsum(rl * rl, 4).alias("sl"),
        dsum(rq * rq, 4).alias("sq"),
        F.count(F.lit(1)).alias("np"),
    ).collect()[0]
    res = local_frame(
        spark,
        [("linear", row["sl"], row["np"]), ("poly2", row["sq"], row["np"])],
        "kind string, sse double, n_points long",
    )
    fits_p = fits.select(F.lit("fits").alias("facet"), "*")
    res_p = res.select(F.lit("residuals").alias("facet"), "*")
    return fits_p.unionByName(res_p, allowMissingColumns=True)


@query("binary_file_ingest", oracle=wav_corpus_oracle_sql())
def binary_file_ingest(
    spark: SparkSession, sf_dir: str, path: str | None = None
) -> DataFrame:
    """The binaryFile directory-INGEST surface end-to-end: a corpus of per-user WAV files is materialized by
    EXECUTOR tasks (mapInPandas side-effect, temp-file + atomic
    rename — task retries can never interleave bytes into a name a
    concurrent glob could read), then ingested fresh through Spark's
    ``binaryFile`` source (sources/binaryfiles.py:read_binary_dir —
    planning-time glob, one file one row), user id parsed from the
    file name, payloads decoded through the REAL
    audio_waveform_features stdlib-wave reader. The oracle computes
    identical aggregates straight from the events table, so any loss
    in write-files → glob → whole-file-read → decode breaks the hash.

    100 TB shape: the corpus write and the ingest are both narrow
    Arrow-batched passes; the per-user stats are one map-combinable
    aggregate. The default corpus path is per-process temp (shared
    only under local[N]) — a real cluster passes ``path`` on shared
    storage."""
    import tempfile

    import pandas as pd

    from data_frame_spark.operators.multimodal import audio_waveform_features
    from data_frame_spark.sources.binaryfiles import read_binary_dir

    # clean=True: a stale corpus from an earlier fixture shape (same
    # PID) would otherwise survive into the *.wav glob as extra rows.
    # An EXPLICIT path gets no rmtree and no atexit (this code must
    # not delete storage it doesn't own) — so the caller's contract
    # is a directory that starts empty/nonexistent and is cleaned by
    # the caller; stale user_*.wav files there would survive into the
    # glob exactly like the local stale-corpus case.
    if path is None:
        path = _prep_tmp_dir("binary_ingest", sf_dir, clean=True)

    def dump(batches):
        # the directory is created INSIDE the task (not on the
        # driver): on a real cluster the driver's filesystem is not
        # the executors', so a driver-side makedirs would leave every
        # mkstemp below failing with ENOENT
        os.makedirs(path, exist_ok=True)
        n = 0
        for pdf in batches:
            for uid, payload in zip(pdf["user_id"], pdf["payload"]):
                final = os.path.join(path, f"user_{int(uid):010d}.wav")
                # temp-file + rename: task retries / speculative
                # attempts must never interleave bytes into the final
                # name a concurrent glob could read (real sinks get
                # this from the commit protocol)
                fd, tmp = tempfile.mkstemp(dir=path, suffix=".part")
                with os.fdopen(fd, "wb") as fh:
                    fh.write(bytes(payload))
                os.replace(tmp, final)
            n += len(pdf)
        yield pd.DataFrame({"n": [n]})

    # one job materializes the file corpus (idempotent: fixed final
    # names, atomic whole-file replaces)
    wav_docs(spark, sf_dir).mapInPandas(dump, "n long").agg(F.sum("n")).collect()
    ingest = read_binary_dir(spark, path, glob="*.wav").select(
        F.regexp_extract(F.col("path"), r"user_(\d+)\.wav$", 1)
        .cast("long")
        .alias("user_id"),
        F.col("content"),
    )
    return audio_waveform_features(ingest, "content", "user_id")


from data_frame_spark.operators.drift import PSI_VALUE_SCALE

#: psi_value_drift fixture contract: log-spaced
#: value buckets (8 buckets from 7 edges) over the events value
#: range, user-parity cohorts as the two populations
PSI_EDGES = [5.0, 10.0, 20.0, 40.0, 80.0, 160.0, 320.0]


def psi_oracle_sql(value_scale: int = PSI_VALUE_SCALE) -> str:
    """DuckDB twin of psi_value_drift
    (operators/drift.py:psi_drift on events: the value distribution
    of the even-user cohort vs the odd-user cohort per event_type,
    fixed log-spaced buckets, add-one smoothing, integer micro-nat
    terms summed — quantize-BEFORE-sum, so the result is order-free
    on both engines). CTE names (pd*/pterm) disjoint from every
    other chain. ``value_scale`` mirrors psi_drift's parameter so a
    registration at a NON-default scale renders a matching twin."""
    n_b = len(PSI_EDGES) + 1
    bucket = " + ".join(
        f"(CASE WHEN value >= {e} THEN 1 ELSE 0 END)" for e in PSI_EDGES
    )
    return f"""
    WITH pd0 AS (SELECT event_type, value,
                        (user_id % 2 = 0) AS is_ref
                 FROM events
                 WHERE value IS NOT NULL AND NOT isnan(value)),
    pd1 AS (SELECT event_type, is_ref, {bucket} AS b FROM pd0),
    pdc AS (SELECT event_type, b,
                   SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS cr,
                   SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS cc
            FROM pd1 GROUP BY 1, 2),
    pdt AS (SELECT event_type, SUM(cr) AS n_ref, SUM(cc) AS n_cmp
            FROM pdc GROUP BY 1),
    pdg AS (SELECT event_type, n_ref, n_cmp,
                   UNNEST(generate_series(0, {n_b - 1})) AS b
            FROM pdt),
    pdj AS (SELECT g.event_type, g.n_ref, g.n_cmp, g.b,
                   COALESCE(c.cr, 0) AS cr, COALESCE(c.cc, 0) AS cc
            FROM pdg g LEFT JOIN pdc c
              ON g.event_type = c.event_type AND g.b = c.b),
    pterm AS (SELECT event_type, n_ref, n_cmp,
                     CAST(FLOOR((CAST(cr + 1 AS DOUBLE) / CAST(n_ref + {n_b} AS DOUBLE)
                                 - CAST(cc + 1 AS DOUBLE) / CAST(n_cmp + {n_b} AS DOUBLE))
                                * ln((CAST(cr + 1 AS DOUBLE) / CAST(n_ref + {n_b} AS DOUBLE))
                                     / (CAST(cc + 1 AS DOUBLE) / CAST(n_cmp + {n_b} AS DOUBLE)))
                                * {float(10 ** value_scale)} + 0.5) AS BIGINT) AS tm
              FROM pdj)
    SELECT event_type, CAST(n_ref AS BIGINT) AS n_ref,
           CAST(n_cmp AS BIGINT) AS n_cmp,
           CAST(SUM(tm) AS BIGINT) AS psi_micro
    FROM pterm GROUP BY 1, 2, 3
    """


@query("psi_value_drift", oracle=psi_oracle_sql())
def psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-Stability-Index distribution drift
    (operators/drift.py:psi_drift): the events
    value distribution of the even-user cohort (reference) vs the
    odd-user cohort (comparison) per event_type — fixed log-spaced
    buckets (8 from 7 edges), add-one smoothing, integer micro-nat
    terms summed. Quantize-BEFORE-sum makes the result order-free on
    both engines (the scale-4 dsum discipline applied to PSI terms).

    100 TB shape: one group-keyed map-combinable count aggregate
    (event_type × bucket — attribute-domain-bounded) + a bounded
    dense-grid completion; no window, no data-sized shuffle."""
    from data_frame_spark.operators.drift import psi_drift

    ev = t(spark, sf_dir, "events").withColumn(
        "cohort",
        F.when(F.col("user_id") % 2 == 0, "ref").otherwise("cmp"),
    )
    return psi_drift(
        ev, "value", "cohort", "ref", "cmp", PSI_EDGES, ["event_type"]
    )


# ---------------------------------------------------------------------------
# Registry order: the driver's correctness gate walks the registry in
# iteration order (round-1 evidence: exactly the first 50 entries got
# CORRECTNESS rows). Queries that have never had a green driver row —
# new/merged names and the ones the round-1 gate never reached — go
# first so a future cap can only ever cut already-proven entries.
# ---------------------------------------------------------------------------

_FIRST = [
    # round-18 rotation (standing policy: every query gets a driver
    # row at least every 2 rounds; any query whose code changes this
    # round goes into the first 50). Slot math in docs/PLANS.md
    # §"Round-18 slot funding": the r16-checked 50 rotate in, minus
    # binary_metadata_docs (retired into binary_features_family,
    # which is r17-checked) = 49, minus the two fits parents (merged
    # into the fits_family v2 row below) = 47, plus the family row
    # itself and the two registrations the freed slots fund
    # (binary_file_ingest + psi_value_drift) = 50 exactly, zero
    # carries — and the registration queue is EMPTY after r18.
    #
    # Block 1 — new/changed rows this round (the v2 family merge and
    # the two registrations, none ever driver-checked in this form):
    "fits_family",
    "binary_file_ingest",
    "psi_value_drift",
    # Block 2 — the r16-checked rotation (last driver row exactly 2
    # rounds old; all green in CORRECTNESS_r16).
    "bm25_search_docs",
    "cms_token_counts",
    "corpus_stats_rollup",
    "cosine_topk_embeddings",
    "csv_roundtrip_lineitem",
    "curriculum_buckets_docs",
    "cusum_drift_events",
    "decontamination_family",
    "denylist_scrub_docs",
    "forecast_revenue",
    "format_roundtrip_family",
    "gapfill_daily_value",
    "graph_suite_family",
    "grid_quantiles_price",
    "group_samples_factor_events",
    "hll_distinct_shingles",
    "index_range_select",
    "ivf_family",
    "json_props_rollup",
    "label_centroids_embeddings",
    "mean_max_user_family",
    "merge_upsert_customers",
    "minhash_signatures_docs",
    "mixture_sample_docs",
    "ngram_jaccard_verified",
    "per_source_cap_docs",
    "pmi_collocations_docs",
    "pq_adc_topk_embeddings",
    "quality_filter_docs",
    "robust_outliers_value",
    "rolling_stats_value",
    "rollup_family",
    "scd2_customer_dim",
    "segment_dedup_docs",
    "select_filter_project",
    "semantic_dedup_embeddings",
    "session_windows_30m",
    "shipping_priority",
    "split_assignment_docs",
    "stratified_sample_docs",
    "temperature_mixture_weights",
    "text_features_docs",
    "tfidf_top_terms_docs",
    "weighted_sample_docs",
    "winnowed_fingerprints_docs",
    "zipf_fit_tokens",
    "zorder_key_events",
]

# A retired name left in _FIRST must fail loudly: _order silently drops
# unknown names, which in round 8 let the checked window shift and skip
# the rotation entirely.
_unknown_first = set(_FIRST) - set(QUERIES)
assert not _unknown_first, f"_FIRST names not in QUERIES: {sorted(_unknown_first)}"

_order = [n for n in _FIRST if n in QUERIES] + [n for n in QUERIES if n not in _FIRST]
QUERIES = {n: QUERIES[n] for n in _order}
ORACLE = {n: ORACLE[n] for n in _order if n in ORACLE}
