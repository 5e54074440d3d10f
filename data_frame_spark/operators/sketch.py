"""Deterministic cardinality sketches.

Spark ships HyperLogLog (``approx_count_distinct``) but its register
layout is engine-private: a correctness gate can't cross-check it,
and two engines never agree. The KMV (k-minimum-values) sketch —
Bar-Yossef et al., "Counting distinct elements in a data stream",
RANDOM'02 — estimates distinct counts from the k smallest hash
values: with u_k = (k-th smallest hash)/2^60 on a uniform 60-bit
hash, D ≈ (k-1)/u_k, with relative error ~1/sqrt(k-2). Because this
repo's hashing routes through md5 (:mod:`functions.texthash`), the
sketch is REPRODUCIBLE: same inputs -> same k-mins -> same estimate,
in Spark and in a SQL oracle, bit for bit.

Scale shape: the distinct-hash stage is a partial (map-side) dedup —
only distinct hashes per partition reach the shuffle — and the
per-group k-mins use a row_number window that Spark prunes with
WindowGroupLimit BEFORE the exchange, so ~k rows per group move.
KMV sketches merge by "union the min-sets, keep the k smallest" —
the same monoid TakeOrderedAndProject implements — so partial
sketches from independent corpus shards combine without rescanning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_frame_spark.functions.texthash import hash60

#: 2^60 as an exact double: hash60 values normalize to [0, 1)
_HASH_SPACE = float(1 << 60)


def kmv_distinct(
    df: DataFrame,
    value_col: str,
    group_col: str | None = None,
    k: int = 64,
    include_overall: bool = False,
) -> DataFrame:
    """Per-group KMV distinct estimate of ``value_col``.

    Output: (scope, kmv_k, exact_distinct, estimate) — ``scope`` is
    the group value (or 'ALL'), ``kmv_k`` = |min-set| = min(k, D).
    The exact path is gated on the SKETCH state alone (``kmv_k < k``
    — the min-set holds every hash, so |min-set| IS the distinct
    count), never on ``exact_distinct``: the estimate is computable
    from k longs per group (at D == k it emits (k-1)/u_k).
    ``exact_distinct`` is carried for demonstration / verification
    only; a production pipeline drops that column and never pays the
    full distinct count.

    ``include_overall`` adds the 'ALL' scope in the SAME pipeline
    (union before the distinct), so grouped + overall sketches cost
    one shuffle chain instead of two.
    """
    h = hash60(F.col(value_col).cast("string"))
    scope = (
        F.lit("ALL") if group_col is None else F.col(group_col).cast("string")
    )
    sel = df.select(scope.alias("scope"), h.alias("__h"))
    if include_overall and group_col is not None:
        sel = sel.unionAll(df.select(F.lit("ALL").alias("scope"), h.alias("__h")))
    base = sel.distinct()
    w = Window.partitionBy("scope").orderBy("__h")
    kept = base.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") <= k)
    counts = base.groupBy("scope").agg(F.count(F.lit(1)).alias("exact_distinct"))
    kmins = kept.groupBy("scope").agg(
        F.max("__h").alias("__hk"), F.count(F.lit(1)).alias("kmv_k")
    )
    est = F.when(
        F.col("kmv_k") < F.lit(k), F.col("kmv_k").cast("double")
    ).otherwise(
        F.lit(float(k - 1)) / (F.col("__hk").cast("double") / F.lit(_HASH_SPACE))
    )
    return kmins.join(counts, "scope").select(
        "scope", "kmv_k", "exact_distinct", est.alias("estimate")
    )


def kmv_set_ops(
    df: DataFrame,
    value_col: str,
    group_col: str,
    scope_a: str,
    scope_b: str,
    k: int = 64,
) -> DataFrame:
    """Set-operation estimates between two scopes' KMV sketches —
    union cardinality, Jaccard, and intersection — the theta-sketch
    set algebra (Beyer et al. 2007; Dasgupta et al., "Theta-sketch
    framework") on the same md5-deterministic min-sets as
    :func:`kmv_distinct`, so a SQL oracle reproduces every value.

    Math: K(A∪B) = the k smallest of K(A) ∪ K(B), so the union
    estimate is the standard (k-1)/u_k read-out on the merged
    min-set (exact when both sketches are complete). Jaccard is the
    fraction of K(A∪B) members present in BOTH input min-sets;
    intersection = jaccard × union.

    Scale: the only data-sized work is one distinct over the two
    scopes' (scope, hash) pairs and a PER-SCOPE (partitioned)
    row_number to keep k mins; everything after runs on two
    k-length arrays inside a global no-key aggregate — bounded
    state, no partitionless window over data, no driver collect.
    ``exact_union`` / ``exact_inter`` are demonstration columns (one
    extra hash-keyed aggregate); production reads drop them and pay
    only the sketch path.
    Output: (scope_a, scope_b, union_k, union_estimate,
    jaccard_micro, inter_estimate_micro, exact_union, exact_inter).
    """
    h = hash60(F.col(value_col).cast("string"))
    scope = F.col(group_col).cast("string")
    base = (
        df.where(scope.isin([scope_a, scope_b]))
        .select(scope.alias("scope"), h.alias("__h"))
        .distinct()
    )
    w = Window.partitionBy("scope").orderBy("__h")
    kept = base.withColumn("__rn", F.row_number().over(w)).where(
        F.col("__rn") <= k
    )
    sets = kept.groupBy().agg(
        F.sort_array(
            F.collect_list(F.when(F.col("scope") == scope_a, F.col("__h")))
        ).alias("ha"),
        F.sort_array(
            F.collect_list(F.when(F.col("scope") == scope_b, F.col("__h")))
        ).alias("hb"),
    )
    merged = F.slice(F.array_sort(F.array_union("ha", "hb")), 1, k)
    st = sets.select(
        F.size(merged).alias("mn"),
        # guard the read-out against BOTH scopes being empty: merged
        # is then [] and element_at(arr, 0) is rejected (Spark array
        # indices are 1-based; ANSI error) — an empty union reads out
        # as NULL u_k and the mn<k branch below yields estimate 0.0
        F.when(
            F.size(merged) > 0, F.element_at(merged, F.size(merged))
        ).alias("uk"),
        F.size(
            F.filter(
                merged,
                lambda x: F.array_contains("ha", x) & F.array_contains("hb", x),
            )
        ).alias("inter_k"),
    )
    exact = (
        base.groupBy("__h")
        .agg(F.count(F.lit(1)).alias("__c"))
        .agg(
            F.count(F.lit(1)).alias("exact_union"),
            # empty input: sum over zero rows is NULL — read out 0,
            # consistent with the guarded sketch columns
            F.coalesce(
                F.sum(F.when(F.col("__c") == 2, 1).otherwise(0)), F.lit(0)
            ).alias("exact_inter"),
        )
    )
    uest = F.when(F.col("mn") < k, F.col("mn").cast("double")).otherwise(
        F.lit(float(k - 1)) / (F.col("uk").cast("double") / F.lit(_HASH_SPACE))
    )
    # mn = 0 (both scopes empty) would make this an ANSI 0/0 error;
    # an empty union's Jaccard reads out as 0
    j = F.when(
        F.col("mn") > 0,
        F.col("inter_k").cast("double") / F.col("mn").cast("double"),
    ).otherwise(F.lit(0.0))
    return st.crossJoin(exact).select(
        F.lit(scope_a).alias("scope_a"),
        F.lit(scope_b).alias("scope_b"),
        F.col("mn").cast("long").alias("union_k"),
        uest.alias("union_estimate"),
        F.floor(j * 1e6 + F.lit(0.5)).cast("long").alias("jaccard_micro"),
        F.floor(j * uest * 1e6 + F.lit(0.5)).cast("long").alias(
            "inter_estimate_micro"
        ),
        F.col("exact_union").cast("long").alias("exact_union"),
        F.col("exact_inter").cast("long").alias("exact_inter"),
    )


# ---------------------------------------------------------------------------
# count-min sketch (frequency estimation)
# ---------------------------------------------------------------------------

#: probe layout shared with the bloom gate: depth-many disjoint
#: 7-hex-digit md5 slices, reduced mod the row width
CMS_SLICE_STARTS = (1, 8, 15)


def _cms_pos(h, start: int, width: int):
    return F.conv(F.substring(h, start, 7), 16, 10).cast("long") % F.lit(width)


def cms_build(
    df: DataFrame, key_col: str, width: int = 1024, depth: int = 3
) -> DataFrame:
    """Count-min sketch counters (Cormode & Muthukrishnan 2005) over
    a key column: ``depth`` hash rows x ``width`` buckets, counter =
    number of input rows hashing there. Estimates from the counters
    over-count (never under-count) with error ~ N/width at
    confidence 1 - (1/2)^depth.

    Output: (row, bucket, cnt) — at most depth x width rows, however
    large the input. Deterministic (md5-slice hashes), so estimates
    are oracle-checkable; merge = element-wise counter SUM, a
    monoid, so shard sketches combine without rescanning (same
    contract as the KMV sketch).

    Scale: one map-combinable groupBy of (row, bucket) — the only
    shuffle, bounded by depth x width regardless of input size.
    """
    if depth > len(CMS_SLICE_STARTS):
        raise ValueError(f"depth <= {len(CMS_SLICE_STARTS)} supported")
    h = F.md5(F.col(key_col).cast("string"))
    probes = F.array(
        *[
            F.struct(
                F.lit(j).alias("row"),
                _cms_pos(h, CMS_SLICE_STARTS[j], width).alias("bucket"),
            )
            for j in range(depth)
        ]
    )
    return (
        df.select(F.explode(probes).alias("p"))
        .groupBy(F.col("p.row").alias("row"), F.col("p.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_heavy_hitters(
    df: DataFrame,
    key_col: str,
    min_count: int | None = None,
    min_div: int | None = None,
    width: int = 1024,
    depth: int = 3,
    counters=None,
) -> DataFrame:
    """Exact heavy hitters, sketch-GATED: every key whose total
    occurrence count reaches ``min_count`` (or total occurrences
    ``div min_div`` — an exact integer threshold, so a SQL oracle
    reproduces it), found without ever aggregating the full key
    space.

    Two passes over the occurrences:

    1. :func:`cms_build` counters — bounded depth x width whatever
       the corpus — are collected (aggregate-sized, the same
       judgement as the spline-knot collect) into literal lookup
       arrays.
    2. Each occurrence evaluates its own CMS estimate MAP-SIDE
       (three ``element_at`` probes into the literal arrays) and is
       dropped unless estimate >= threshold; only candidate
       occurrences reach the exact groupBy, whose result is then
       exactly filtered.

    Because CMS never under-counts, the gate admits every true
    heavy hitter — the sketch only prunes, it cannot change the
    answer — so the output equals the naive full groupBy + HAVING,
    while the shuffle carries only the heavy candidates' occurrences
    (~top keys) instead of the whole key space. The light-key kill
    happens at the map side, which is what makes this the 100 TB
    formulation.
    """
    if (min_count is None) == (min_div is None):
        raise ValueError("exactly one of min_count / min_div required")
    # callers that already built the SAME-shaped sketch pass its
    # collected rows to skip a second full-corpus aggregation
    # (round-7 review: the merged cms query paid the sketch twice)
    if counters is None:
        counters = cms_build(df, key_col, width=width, depth=depth).collect()
    grid = [[0] * width for _ in range(depth)]
    for r in counters:
        grid[r["row"]][r["bucket"]] = r["cnt"]
    total = sum(grid[0])  # each occurrence lands once in row 0
    thr = int(min_count) if min_count is not None else total // int(min_div)

    h = F.md5(F.col(key_col).cast("string"))
    est = F.least(
        *[
            F.element_at(
                F.lit(grid[j]), (_cms_pos(h, CMS_SLICE_STARTS[j], width) + 1).cast("int")
            )
            for j in range(depth)
        ]
    )
    return (
        df.where(est >= F.lit(thr))
        .groupBy(F.col(key_col))
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .where(F.col("exact_count") >= F.lit(thr))
    )


def hll_distinct(
    df: DataFrame,
    value_col: str,
    group_col: str | None = None,
    hex_digits: int = 2,
    include_overall: bool = False,
) -> DataFrame:
    """Per-group HyperLogLog distinct estimate (Flajolet et al.,
    AofA'07) with md5-derived registers, so — unlike Spark's
    ``approx_count_distinct`` whose register layout is
    engine-private — the SAME registers and estimate fall out of a
    SQL oracle, bit for bit.

    Layout: register index = first ``hex_digits`` md5 hex digits
    (m = 16^hex_digits registers); rho = leading-zero rank of the
    next 10 hex digits (40 bits), computed by pure integer/string
    arithmetic (base-conversion length, no float log2). Estimate =
    alpha_m * m^2 / (V + sum 2^-M_j) with the standard linear-
    counting small-range correction m*ln(m/V). The register sum is
    EXACT in doubles (dyadic terms spanning < 53 bits), so the
    estimate is reproducible across engines and partitionings.

    Output: (scope, hll_registers_set, exact_distinct, estimate) —
    ``exact_distinct`` carried for verification only, the estimate
    is computable from the m registers alone.

    Scale: rho is a narrow map; ONE map-combinable shuffle of
    (scope, register) MAX partials — at most m rows per scope move —
    then an aggregate-sized groupBy(scope). Merge across shards =
    element-wise register MAX, a monoid, so partial sketches
    combine without rescanning (same contract as KMV/CMS).
    """
    if hex_digits not in (1, 2, 3):
        raise ValueError("hex_digits must be 1, 2 or 3")
    m = 16 ** hex_digits
    alpha = {16: 0.673, 256: 0.7213 / (1.0 + 1.079 / 256.0),
             4096: 0.7213 / (1.0 + 1.079 / 4096.0)}[m]
    L = 40

    h = F.md5(F.col(value_col).cast("string"))
    scope = (
        F.lit("ALL") if group_col is None else F.col(group_col).cast("string")
    )
    sel = df.select(scope.alias("scope"), h.alias("__hh"))
    if include_overall and group_col is not None:
        sel = sel.unionAll(df.select(F.lit("ALL").alias("scope"), h.alias("__hh")))
    j = F.conv(F.substring("__hh", 1, hex_digits), 16, 10).cast("long")
    wbin = F.conv(F.substring("__hh", hex_digits + 1, 10), 16, 2)
    rho = F.when(wbin == "0", F.lit(L + 1)).otherwise(
        F.lit(L + 1) - F.length(wbin)
    )
    regs = (
        sel.select("scope", j.alias("__j"), rho.alias("__rho"))
        .groupBy("scope", "__j")
        .agg(F.max("__rho").alias("__mj"))
    )
    per_scope = regs.groupBy("scope").agg(
        F.count(F.lit(1)).alias("hll_registers_set"),
        # dyadic terms: exact double sum in any order
        F.sum(F.pow(F.lit(2.0), -F.col("__mj"))).alias("__s"),
    )
    v = F.lit(m) - F.col("hll_registers_set")
    raw = F.lit(alpha * m * m) / (v.cast("double") + F.col("__s"))
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (v > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v.cast("double")),
    ).otherwise(raw)
    exact = sel.distinct().groupBy("scope").agg(
        F.count(F.lit(1)).alias("exact_distinct")
    )
    return per_scope.join(exact, "scope").select(
        "scope",
        "hll_registers_set",
        "exact_distinct",
        F.round(est, 4).alias("estimate"),
    )


def cms_estimate(
    counters: DataFrame, keys: DataFrame, key_col: str, width: int = 1024, depth: int = 3
) -> DataFrame:
    """Point-frequency estimates for ``keys`` from CMS ``counters``:
    min over the depth rows of the counter each key hashes to.
    Missing counters read as 0. The counter table is aggregate-sized
    (depth x width), so it arrives as a BROADCAST build — estimating
    any number of keys never shuffles the key side."""
    h = F.md5(F.col(key_col).cast("string"))
    probes = F.array(
        *[
            F.struct(
                F.lit(j).alias("row"),
                _cms_pos(h, CMS_SLICE_STARTS[j], width).alias("bucket"),
            )
            for j in range(depth)
        ]
    )
    exploded = keys.select(F.col(key_col), F.explode(probes).alias("p")).select(
        key_col, F.col("p.row").alias("row"), F.col("p.bucket").alias("bucket")
    )
    return (
        exploded.join(F.broadcast(counters), ["row", "bucket"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cms_count"))
    )


# ---------------------------------------------------------------------------
# grid-quantile sketch (distributed quantile estimation)
# ---------------------------------------------------------------------------


def grid_quantiles(
    df: DataFrame,
    value_col: str,
    probs: list[float],
    bins: int = 256,
    group_col: str | None = None,
) -> DataFrame:
    """Per-group quantile ESTIMATES from an equi-width bin-count
    sketch — the scale-correct alternative to exact sort-based
    quantiles (``operators/stats.py:120``, which reproduces the
    reference ``df-quantile`` semantics, ``statistics.rkt``): no
    global sort anywhere, just two map-combinable aggregations.

    Pass 1 computes (min, max, n) per group; pass 2 buckets every
    value into one of ``bins`` equal-width bins against the
    broadcast range table and counts per (group, bin). The bin-count
    table is the SKETCH: it is aggregate-sized (≤ groups x bins
    rows), and the quantile read-out — cumulative counts, then linear
    interpolation inside the first bin whose cumulative count reaches
    ceil(p*n) — runs on the sketch, never the data. Estimation error
    is bounded by one bin width (hi-lo)/bins, asserted in
    tests/test_sketch.py.

    Everything is integer counts + IEEE-reproducible double
    arithmetic on (lo, hi), so the estimate is deterministic and
    oracle-checkable bit for bit; the final value is quantized to
    integer micro-units (FLOOR(x*1e6+0.5)) like the LM/PMI scores.

    Output: (scope, prob_pct, n, bin, est_micro).
    """
    scope = (
        F.lit("ALL") if group_col is None else F.col(group_col).cast("string")
    )
    base = df.select(
        scope.alias("scope"), F.col(value_col).cast("double").alias("__x")
    ).where(F.col("__x").isNotNull())
    rng = base.groupBy("scope").agg(
        F.min("__x").alias("__lo"),
        F.max("__x").alias("__hi"),
        F.count(F.lit(1)).alias("__n"),
    )
    w = (F.col("__hi") - F.col("__lo")) / F.lit(float(bins))
    b = F.when(F.col("__hi") == F.col("__lo"), F.lit(0).cast("long")).otherwise(
        F.least(
            F.floor((F.col("__x") - F.col("__lo")) / w), F.lit(bins - 1).cast("long")
        )
    )
    counts = (
        base.join(F.broadcast(rng), "scope")
        .groupBy("scope", "__lo", "__hi", "__n", b.alias("__b"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    cum = counts.withColumn(
        "__cum",
        F.sum("__c").over(Window.partitionBy("scope").orderBy("__b")),
    )
    cand = cum.select(
        "*", F.explode(F.array(*[F.lit(float(p)) for p in probs])).alias("__p")
    ).withColumn(
        "__target",
        F.greatest(F.ceil(F.col("__p") * F.col("__n")).cast("long"), F.lit(1)),
    ).where(F.col("__cum") >= F.col("__target"))
    pick = cand.groupBy("scope", "__p").agg(
        F.min_by(
            F.struct("__b", "__c", "__cum", "__lo", "__hi", "__n", "__target"),
            F.col("__b"),
        ).alias("s")
    )
    frac = (F.col("s.__target") - (F.col("s.__cum") - F.col("s.__c"))) / F.col(
        "s.__c"
    )
    wp = (F.col("s.__hi") - F.col("s.__lo")) / F.lit(float(bins))
    est = F.when(F.col("s.__hi") == F.col("s.__lo"), F.col("s.__lo")).otherwise(
        F.col("s.__lo") + wp * (F.col("s.__b") + frac)
    )
    return pick.select(
        "scope",
        F.floor(F.col("__p") * 100 + F.lit(0.5)).cast("long").alias("prob_pct"),
        F.col("s.__n").alias("n"),
        F.col("s.__b").alias("bin"),
        F.floor(est * 1e6 + F.lit(0.5)).cast("long").alias("est_micro"),
    )
