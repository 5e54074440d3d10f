"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
TWO JSON lines: first the full per-query timing dict on its own line,
then a SHORT final summary line {"metric": ..., "value": total_sec,
"unit": "sec", "sf": ..., "queries": {top-10 by time}} that survives
the driver's output-tail truncation (round-5 lesson: one long line got
its head cut and the round lost its machine-readable bench).

Timing excludes session startup; each query is executed to
completion via a FULL-ROW materializing action: every output column
feeds an xxhash64 that a global aggregate consumes, so Catalyst
cannot prune column expressions or join subtrees that don't affect
the row count (a bare count() under-measured narrow feature queries
and left-join-shaped scrubs — round-7 fix; the aggregate itself adds
one hash per row, negligible next to any real query).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from data_frame_spark.session import get_spark
from data_frame_spark import queries as Q

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: the canonical bench scale — docs/BENCH_HISTORY/latest.json records
#: ONLY runs at this sf (r16 ADVICE: a stray sf0.01 or sf1 run used
#: to replace the committed sf0.1 record, so round-over-round
#: comparisons of latest.json could silently span scale factors);
#: off-scale runs persist to latest_sf{sf}.json instead.
CANONICAL_SF = 0.1

#: ... and the canonical core count (r18 VERDICT #2: the driver's
#: local[8] scaling run clobbered the 32-core latest.json — the same
#: clobbering class the SF key fixed for scale). Off-canonical core
#: counts persist to a latest*_c{cpus}.json sibling; the cpus also
#: ride the emitted summary so any captured run is self-describing.
CANONICAL_CPUS = 32

#: FIXED representative subset whose total is comparable
#: round-over-round (round-9 verdict #5: the full-registry total
#: inflates with every registry addition, so rounds stopped being
#: comparable). Every query still runs — this list only picks which
#: timings feed the stable `headline_subset_total`. Do NOT grow this
#: list casually; a changed subset breaks comparability and must be
#: called out in the round notes. Merged rows keep their merged name
#: (mean_max_user_family absorbed the former mean_max_by_user).
# round-15 composition note: mean_max_value + spline_mean_max_curve
# retired into meanmax_curve_family (slot-funding merge, their SQL
# verbatim), so the HEADLINE subset swaps those two names for the
# family row. The family's OUTPUT is the two legs' rows verbatim,
# but its EXECUTION is not the sum of the standalone pipelines: both
# facets share ONE checkpointed mean-max ladder (queries
# meanmax_curve_family; same-session A/B 5.36 s vs 8.92 s for
# two ladder builds, outputs bit-identical — docs/PLANS.md). So the
# r14→r15 headline delta embeds a real ~3.5 s composition speedup;
# use the r15-start same-session control (the two standalone rows
# summed 9.1 s; the family read 5.50 s at r15-end) as the adjustment
# factor when comparing across the merge. The FULL-registry total
# gains the five new registrations (sssp/scd2/table_diff/image/ppr,
# ~+6-8 s of genuinely new work) and loses the nine standalone rows'
# separate session overheads (−9 rows of ~0.3-3 s each); per-query
# values are the comparable unit there.
HEADLINE: list[str] = [
    "pricing_summary",
    "regional_revenue",
    "top_revenue_orders",
    "shipping_priority",
    # round-13: exact_dedup_documents merged into dedup_batch_family
    # (+ the incremental nightly-ingest facet on the same row) — the
    # headline total gains the incremental facet's cost from r13 on
    # (expected ~+0.5-1 s of composition shift, like the r12 ivf note).
    "dedup_batch_family",
    "near_dup_clusters_docs",
    "minhash_signatures_docs",
    "ngram_jaccard_verified",
    "gopher_repetition_docs",
    "quality_filter_docs",
    "text_features_docs",
    "tfidf_top_terms_docs",
    "bm25_search_docs",
    "lm_nll_docs",
    "cms_token_counts",
    "hll_distinct_shingles",
    "cosine_topk_embeddings",
    "lsh_ann_topk_embeddings",
    # round-12: ivf_ann_topk_embeddings merged into ivf_family
    # (+centroids and ivf-pq facets on one shared coarse fit) — the
    # headline total gains the extra facets' cost from r12 on.
    "ivf_family",
    "zorder_key_events",
    "session_windows_30m",
    "dsir_importance_docs",
    "stratified_sample_docs",
    # round-15: mean_max_value + spline_mean_max_curve merged into
    # meanmax_curve_family (both legs' pipelines run on the one row,
    # so the subset keeps measuring the same work under one name)
    "meanmax_curve_family",
    "mean_max_user_family",
    "histogram_family",
    "quantiles_price_and_value",
]


# a retired name left in HEADLINE would silently shrink the subset
# and break round-over-round comparability — same failure class as
# the _FIRST rotation skip; fail loudly instead (pinned in
# tests/test_core.py).
_unknown_headline = set(HEADLINE) - set(Q.QUERIES)
if _unknown_headline:
    # explicit raise, not assert: python -O strips asserts, which
    # would silently shrink the comparison subset (mirrors the
    # _unknown_first loud-raise in queries.py)
    raise RuntimeError(
        f"HEADLINE names not in QUERIES: {sorted(_unknown_headline)}"
    )


def bench_names() -> list[str]:
    return list(Q.QUERIES)


def cpu_calib() -> float:
    """Fixed single-core pure-Python loop (~1 s on an uncontended
    core) — the machine-state anchor recorded alongside every bench
    run. The r18-open adjudication measured the SAME loop at 2.92 s
    and 0.99 s minutes apart on an idle-looking guest: host-level CPU
    contention (invisible to guest load) swings effective CPU speed
    up to ~3× on minute timescales, which is the whole r16→r17→r18
    "quiet drift" story (docs/PLANS.md §"Round-18 bench
    adjudication"). A future comparison must reject any run whose
    calib reads are far off ~1 s rather than chase phantom
    regressions."""
    t0 = time.time()
    x = 0
    for i in range(30_000_000):
        x += i
    return round(time.time() - t0, 3)


def materialize(df) -> int:
    """Run ``df`` to completion with NO column pruning: hash every
    output column into a global (count, hash-sum) aggregate. Maps
    aren't hashable by xxhash64 and go through to_json first."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import MapType

    cols = [
        F.to_json(F.col(f.name)) if isinstance(f.dataType, MapType) else F.col(f.name)
        for f in df.schema.fields
    ]
    row = (
        df.select(F.xxhash64(*cols).alias("__h"))
        .agg(F.count(F.lit(1)).alias("__n"), F.sum("__h"))
        .collect()[0]
    )
    return row["__n"]


def main() -> None:
    spark = get_spark("data_frame_spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    # warm the JVM/session on a trivial action so q1 isn't charged startup
    spark.range(1).count()
    # ... and touch each input table (footer reads + codec init +
    # executor-thread spin-up) so the first query measures the query,
    # not one-time IO setup. Queries still pay their own full scan.
    from data_frame_spark.session import load_table, TPCH_TABLES

    for tbl in TPCH_TABLES:
        try:
            load_table(spark, SF_DIR, tbl).limit(1).count()
        except Exception:
            pass

    # two timed executions per query, min reported (disclosed in the
    # JSON): single-shot numbers on a shared box swing +/-20% with
    # machine contention; the min is the reproducible query cost.
    # Each execution rebuilds the full plan and re-runs every job —
    # nothing is cached between runs (eagerly-materialized stages are
    # rebuilt too, since the plan is reconstructed from scratch).
    RUNS = 2
    calib_pre = cpu_calib()
    timings: dict[str, float] = {}
    for name in bench_names():
        fn = Q.QUERIES[name]
        best = None
        n = 0
        for _ in range(RUNS):
            t0 = time.time()
            df = fn(spark, SF_DIR)
            n = materialize(df)
            el = time.time() - t0
            best = el if best is None or el < best else best
        timings[name] = round(best, 3)
        print(f"# {name}: {timings[name]:.2f}s rows={n}", file=sys.stderr)

    sf = os.path.basename(SF_DIR.rstrip("/")).replace("sf", "")
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf
    try:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)))
    except ValueError:
        cpus = None
    summary = emit_json(
        timings, sf_val, RUNS, calib=(calib_pre, cpu_calib()), cpus=cpus
    )
    write_history(timings, summary)


def write_history(timings: dict[str, float], summary: dict) -> None:
    """Persist the FULL per-query timing dict to a repo file
    (docs/BENCH_HISTORY/latest.json) — r15 verdict #2: the driver
    keeps only a ~2,000-char output tail, so the split-line emission
    alone can never preserve all per-query numbers (BENCH_r15 kept
    36/100); round-over-round per-query comparisons must not depend
    on the driver capture. The driver's round-close commit picks
    this file up; round-close snapshots are frozen alongside it as
    docs/BENCH_HISTORY/r{N}.json. Only a run at CANONICAL_SF AND
    CANONICAL_CPUS may touch latest.json — any other scale writes a
    latest_sf{sf}.json sibling and any other core count appends a
    _c{cpus} suffix, so an iteration run at sf0.01/sf1 or the
    driver's local[8] scaling pass can never clobber the canonical
    record (r16 ADVICE; r18 VERDICT #2). Best-effort: a read-only
    checkout must not fail the bench."""
    fname = (
        "latest"
        if summary.get("sf") == CANONICAL_SF
        else f"latest_sf{summary.get('sf')}"
    )
    if summary.get("cpus") != CANONICAL_CPUS:
        fname += f"_c{summary.get('cpus')}"
    fname += ".json"
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "docs", "BENCH_HISTORY",
        fname,
    )
    try:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            # the summary fields are the SAME dict emit_json printed
            # (single source — review fix: independently re-derived
            # fields here could silently drift from the emitted line);
            # only the full per-query dict replaces the top-10 slice
            json.dump(
                {**summary, "total": summary["value"], "queries": timings},
                f,
                indent=1,
                sort_keys=True,
            )
            f.write("\n")
    except OSError as e:
        print(f"# bench history write skipped: {e}", file=sys.stderr)


def emit_json(
    timings: dict[str, float], sf_val, runs: int, calib=None, cpus=None
) -> dict:
    """Print the machine-readable bench lines (factored out so the
    emission shape is unit-testable without a Spark run).

    The driver captures only an output TAIL; round 5's single long
    line grew past the capture window and lost its head (BENCH_r05
    parsed: null), and by round 14 the one-line per-query dict for
    100 queries outgrew the tail again (the r13-vs-r14 comparison
    recovered only 9 overlapping queries — r14 verdict #5). So: the
    per-query dict goes out SPLIT across multiple short JSON lines
    (each well under 1 KB), then the short final summary line that
    always survives truncation. Reassembly: merge the "queries"
    dicts of every line carrying "per_query_part" (parts are
    disjoint; "parts" gives the expected count).

    Two r18-VERDICT hardenings: the summary line is ALSO printed
    before the part lines (any head-capturing consumer gets it
    without parsing parts; the final line stays the summary, which
    is what the driver parses), and the part lines carry the
    SLOWEST queries LAST — a ~2,000-char tail capture that keeps
    only the trailing parts then preserves exactly the top cost
    centers the round-over-round perf comparison needs (r18 lost 4
    slow queries to head-side truncation and mis-reported them as
    dropped)."""
    # ascending by time: the most perf-relevant entries land nearest
    # the end of the output, where tail captures survive
    names = sorted(timings, key=lambda n: (timings[n], n))
    CHUNK = 18  # ~30 bytes/entry -> ~600-byte lines
    parts = [names[i:i + CHUNK] for i in range(0, len(names), CHUNK)]
    headline = [n for n in HEADLINE if n in timings]
    summary = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "sf": sf_val,
        "cpus": cpus,
        "n_queries": len(timings),
        # stable round-over-round comparison: the fixed HEADLINE
        # subset's total (the full-registry `value` inflates with
        # every registry addition)
        "headline_subset_total": round(
            sum(timings[n] for n in headline), 3
        ),
        "headline_n": len(headline),
        # round-7 action change: full-row xxhash materialization
        # (count() let Catalyst prune column work) — totals are
        # NOT comparable to rounds <= 6, which measured less
        "action": "full_row_hash",
        "runs_per_query": runs,
        "agg": "min",
        # (pre, post) cpu_calib() machine-state anchor — ~1.0 s on an
        # uncontended core; values far above flag a host-contended
        # window whose timings must not drive round-over-round claims
        "calib_sec": list(calib) if calib else None,
        "queries": {
            n: timings[n]
            for n in sorted(timings, key=timings.get, reverse=True)[:10]
        },
    }
    # summary FIRST (survives head captures), then the per-query
    # parts slowest-last, then the summary again as the final line
    # the driver parses
    print(json.dumps(summary))
    for idx, part in enumerate(parts, start=1):
        print(
            json.dumps(
                {
                    "per_query_part": idx,
                    "parts": len(parts),
                    "runs_per_query": runs,
                    "agg": "min",
                    "action": "full_row_hash",
                    "queries": {n: timings[n] for n in part},
                }
            )
        )
    print(json.dumps(summary))
    # the history file (write_history) persists THIS dict, so the
    # repo-committed numbers can never drift from the emitted summary
    return summary


if __name__ == "__main__":
    main()
