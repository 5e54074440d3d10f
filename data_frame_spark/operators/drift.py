"""Population Stability Index (PSI) — distribution drift between
two corpus snapshots.

The training-data ops primitive the CUSUM row (operators/window.py)
does not cover: CUSUM detects a LEVEL shift inside one ordered
series; PSI quantifies how much a value DISTRIBUTION moved between
two populations (yesterday's corpus vs today's, train split vs
serving traffic), per monitored segment. The published form
(banking scorecard monitoring, widely reproduced):

    PSI = sum_i (p_i - q_i) * ln(p_i / q_i)

over fixed value buckets, with add-one smoothing so empty buckets
are defined. Rule-of-thumb thresholds: < 0.1 stable, 0.1-0.25
moderate shift, > 0.25 action. No reference twin — the reference's
single-frame model has no two-snapshot comparison surface (its
statistics are per-series, SURVEY §2.5); this extends the drift leg
(cusum_drift_events) and the dimension-maintenance trio (table_diff
answers "which ROWS changed"; PSI answers "did the DISTRIBUTION
move").

Exactness contract: bucket counts are exact integers from ONE
map-combinable aggregate; each PER-BUCKET term is a fixed double
expression of those integers (smoothed proportions + ln),
round-half-up quantized to integer micro-nats, and the LONGS are
summed — so the result is independent of partitioning and addition
order (a double sum then one rounding would be order-dependent at
the ulp level). The +,-,*,/ parts are IEEE-deterministic (the
gapfill-lerp argument); ``ln`` is NOT spec'd correctly-rounded, so
a JVM-vs-libm ulp disagreement could in principle flip one term's
rounding when a value lands within ~1 ulp of a .5 boundary
(probability ~1e-10 per term) — the same exposure the lm_nll and
fits rows have carried green since r8, accepted and documented
rather than hidden. Bucket
edges are an EXPLICIT caller-supplied attribute-domain list (the
pivot/reshape contract): the bucket count is plan-time bounded, the
output schema never depends on the data, and every one of the
``len(edges)+1`` buckets contributes per group — including buckets
empty on both sides (their smoothed masses differ when the split
sizes differ, which is exactly what the smoothing is for).

Scale shape: ONE (group, bucket, both-split conditional counts)
exchange with map-side partial sums; the per-group totals and the
bucket grid both live on the aggregate's output (bounded by
|groups| x |buckets|, never by rows); the final PSI sum is a second
bounded aggregate. No window, no broadcast, no collect, no Python.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_frame_spark.operators.colnames import quoted as _q

#: default micro-nat quantization scale (1e-6 per term). The DuckDB
#: twin (queries.psi_oracle_sql) derives its multiplier from THIS
#: constant — r16 ADVICE: a hardcoded 1000000.0 on the oracle side
#: would silently disagree if a registration ever picked a
#: non-default ``value_scale``.
PSI_VALUE_SCALE = 6


def bucket_index(col: Column, edges: Sequence[float]) -> Column:
    """0-based fixed-bucket index: the number of ``edges`` at or
    below the value (edges ascending, len(edges)+1 buckets; values
    below the first edge land in bucket 0). A pure expression —
    evaluates map-side, mirrors the oracle's CASE-sum exactly."""
    idx: Column = F.lit(0)
    for e in edges:
        idx = idx + F.when(col >= F.lit(float(e)), 1).otherwise(0)
    return idx


def psi_drift(
    df: DataFrame,
    value_col: str,
    split_col: str,
    ref_value: str,
    cmp_value: str,
    bucket_edges: Sequence[float],
    group_by: Sequence[str],
    value_scale: int = PSI_VALUE_SCALE,
) -> DataFrame:
    """PSI of ``value_col``'s distribution between the rows where
    ``split_col == ref_value`` (the reference population) and those
    where ``split_col == cmp_value`` (the comparison population),
    per ``group_by`` segment, over the fixed ``bucket_edges`` grid.

    Rows with NULL or NaN values and rows in neither split are
    ignored (the valid-only stance; without the explicit NaN drop,
    BOTH engines sort NaN above every number and would silently
    count NaN rows as extreme-high drift). Groups present in only
    ONE split still
    emit a row — that is the loudest possible drift and silently
    dropping it would hide exactly the event PSI exists to catch.

    Output: ``group_by`` + ``n_ref``/``n_cmp`` (exact population
    sizes) + ``psi_micro`` (PSI in integer micro-nats: each bucket's
    term round-half-up quantized at 1e-``value_scale``, the longs
    summed — quantize-before-sum, see the module docstring).
    """
    edges = [float(e) for e in bucket_edges]
    if not edges or sorted(edges) != edges or len(set(edges)) != len(edges):
        raise ValueError(
            "psi_drift needs a non-empty, strictly ascending bucket_edges "
            "list (the explicit bounded attribute domain)"
        )
    gcols = list(group_by)
    if not gcols:
        # a global PSI is one literal group away; an implicit global
        # would hide the partitionless intent
        raise ValueError("psi_drift needs group_by keys (use a literal "
                         "column for a single global PSI)")
    if ref_value == cmp_value:
        raise ValueError("psi_drift ref_value and cmp_value must differ")
    reserved = {"n_ref", "n_cmp", "psi_micro", "__b", "__cr", "__cc",
                "__is_ref"}
    collide = reserved & {*gcols, value_col, split_col}
    if collide:
        # the reshape collision discipline: a group column named like
        # an output/internal column would emit ambiguous duplicates
        # or break mid-plan with an opaque analyzer error
        raise ValueError(
            f"psi_drift input columns collide with reserved output/"
            f"internal names: {sorted(collide)}"
        )
    if len(set(gcols)) != len(gcols):
        raise ValueError("psi_drift group_by names must be distinct")

    n_buckets = len(edges) + 1
    gq = [_q(c) for c in gcols]
    v = _q(value_col).cast("double")
    s = _q(split_col)

    base = df.where(
        v.isNotNull() & ~F.isnan(v) & s.isin([ref_value, cmp_value])
    ).select(
        *gq,
        bucket_index(v, edges).alias("__b"),
        F.when(s == ref_value, 1).otherwise(0).alias("__is_ref"),
    )
    # THE one data-sized exchange: (group, bucket) with both splits'
    # partial counts combined map-side
    cnt = base.groupBy(*gq, F.col("__b")).agg(
        F.sum("__is_ref").alias("__cr"),
        F.sum(1 - F.col("__is_ref")).alias("__cc"),
    )
    # everything below runs on the bounded aggregate output
    totals = cnt.groupBy(*gq).agg(
        F.sum("__cr").alias("n_ref"), F.sum("__cc").alias("n_cmp")
    )
    grid = totals.select(
        *gq, "n_ref", "n_cmp",
        F.explode(F.array(*[F.lit(i) for i in range(n_buckets)])).alias("__b"),
    )
    j = grid.join(cnt, [*gcols, "__b"], "left").select(
        *gq,
        "n_ref",
        "n_cmp",
        F.coalesce(F.col("__cr"), F.lit(0)).alias("__cr"),
        F.coalesce(F.col("__cc"), F.lit(0)).alias("__cc"),
    )
    # smoothed proportions: (c + 1) / (n + buckets); each PER-BUCKET
    # term is a fixed double expression of exact integers (identical
    # on both engines) and is quantized to integer micro-nats BEFORE
    # the sum — a double sum's value depends on addition order across
    # partitions, so summing doubles then rounding could differ from
    # the oracle at the ulp level; summing the quantized longs is
    # order-free (the repo-wide quantize-before-aggregate discipline)
    p = (F.col("__cr") + 1).cast("double") / (F.col("n_ref") + n_buckets).cast("double")
    qq = (F.col("__cc") + 1).cast("double") / (F.col("n_cmp") + n_buckets).cast("double")
    mult = float(10 ** value_scale)
    term_micro = F.floor((p - qq) * F.log(p / qq) * mult + F.lit(0.5)).cast("long")
    return (
        j.groupBy(*gq)
        .agg(
            F.max("n_ref").alias("n_ref"),
            F.max("n_cmp").alias("n_cmp"),
            F.sum(term_micro).alias("psi_micro"),
        )
    )
