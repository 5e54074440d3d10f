"""Generate docs/SCALE_LEDGER.md: per-query physical-plan accounting.

For every registered query (at sf0.001 so plan generation is fast):
data shuffles (Exchange nodes), data-sized partitionless windows
(the single-partition scale hazard — must be 0 outside the two
documented single-series mean-max queries), and broadcast usage.

    python tools/scale_ledger.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_frame_spark.session import get_spark
from data_frame_spark.queries import QUERIES
from data_frame_spark.plans import checks as C

SF_DIR = "/root/testdata/sf0.001"

HEADER = """# Scale ledger

Auto-generated (`python tools/scale_ledger.py`) physical-plan
accounting for every registered query at sf0.001. Columns:

- **shuffles** — data-sized shuffle `Exchange` nodes in the executed
  plan (each is a full data repartition at scale; lower is better,
  and none of these grow with data size beyond the shuffle itself).
  Since r18 the iterative graph loops CHAIN their rounds instead of
  hiding them behind per-round checkpoint RDD scans, so their
  per-round exchanges are now VISIBLE here (pagerank/ppr 0 -> 8,
  sssp 0 -> 23, graph_suite 15 -> 32): that is an accounting
  improvement, not new work — identical repeated exchanges are
  AQE-stage-reused at runtime (measured: the chained forms execute
  FEWER tasks and fewer shuffle bytes than the checkpointed ones,
  OPTIMIZATION_r18.md §11).
- **tiny** — bucket-bounded exchanges: per-`__bucket` aggregates
  (≤ |buckets|+1 rows by construction) and their spine cumulations,
  introduced where the distributed primitives replaced driver
  collects with in-plan broadcast branches. These move bytes
  proportional to the bucket count, never the data.
- **guard** — `ensure_parallelism` small-file repartitions (RoundRobin
  REPARTITION_BY_NUM): they exist only because the local fixture is
  one parquet footer; at corpus scale the input is already wider than
  the session target and the guard is an IDENTITY (pinned by
  `test_ensure_parallelism_is_identity_on_wide_input`), so these are
  not scale costs.
- **partitionless** — data-sized partitionless `WindowExec` nodes
  (everything funnels through ONE partition: the 100 TB hazard).
  This column must be 0 for EVERY query: the single-series mean-max
  family routes its slice-lag, A-cumulation, and probe-bracketing
  passes through the range-bucketed two-level primitives in
  `operators/distributed.py` (pinned by `tests/test_plans.py`).
- **broadcast** — the plan broadcasts a small side instead of
  shuffling the big one.
- **bcast data-sized** — broadcast exchanges that would ship a
  CORPUS-SIZED side at 100 TB. Measured under
  `plans.checks.scale_planner` (autoBroadcastJoinThreshold=-1: the
  100 TB planner simulation — size-elected broadcasts vanish at
  scale on their own; only CODE-FORCED hints persist). r19 caveat
  discovered by the sf10 probe: that premise FAILS for
  explode-derived relations (shingles, n-grams, segments, windows) —
  Generate stats don't model the fan-out, a localCheckpoint boundary
  PRESERVES the resulting underestimate, and at 100× corpus the
  default-threshold planner still broadcast-elected the ~GB shingle
  relation and killed the driver. Every such join now pins
  SHUFFLE_HASH/MERGE in the operators (dedup/graph), pinned by
  `test_dedup_corpus_joins_never_broadcast`; this column's planner
  simulation stays as the second, independent line of defence,
  classified
  by `plans.checks.broadcasts_for_query` (the broadcast input
  subtree must bottom out in a bounded node — no-key/`__bucket`
  aggregate, k-limit, literal relation, or the attribute-domain
  region/nation scans — or the query must carry a justified
  `DECLARED_BROADCAST_OK` entry). This column must be 0 for EVERY
  query (round-6 verdict: the contamination audit's
  corpus-proportional broadcast is exactly this bug class).
- **row-python** — `BatchEvalPython` nodes: ROW-AT-A-TIME Python in
  the executed plan (~10-100× slower than the Arrow-batched lanes;
  the prompt-level ban). Arrow nodes (ArrowEvalPython, MapInPandas,
  FlatMapGroupsInPandas) do NOT flag. Must be empty for every query;
  the static twin is `test_no_row_at_a_time_python_udfs_in_package`.

Empirical 10x scale-up slopes for the five most expensive queries are
recorded in [SCALE_PROBE.md](SCALE_PROBE.md) (round 6): no
super-linear time slope.

Reading caveats (round-12/13 advisories):

- **Bench headline composition discontinuities.** The fixed
  28-query `bench.py` HEADLINE subset changed members twice: round 12
  replaced `ivf_ann_topk_embeddings` with the heavier `ivf_family`
  (~+3.5 s of composition shift), and round 13 replaced
  `exact_dedup_documents` with `dedup_batch_family` (+ the
  incremental facet, expected ~+0.5-1 s). BENCH_r12+/r13+ headline
  totals are therefore not directly comparable to earlier rounds'
  without those composition deltas.
- **Checkpointed rows cover the post-checkpoint plan.** Rows whose
  registered callable eagerly `localCheckpoint`s an intermediate
  (`spans_family`'s span table; `bpe_family`'s fit/vocab iterations;
  the kmv and mean-max families — since r15 `meanmax_curve_family`
  checkpoints its SHARED ladder, so its row here reads 0 shuffles)
  sever lineage at build time, so THIS ledger's shuffle/broadcast
  AND row-python columns for them describe the post-checkpoint plan
  only (a BatchEvalPython node hidden behind a checkpoint would not
  flag here — the static package test is the lineage-independent
  half of that ban). The
  pre-checkpoint shapes are pinned at OPERATOR level in
  `tests/test_plans.py` (e.g.
  `test_duplicate_spans_prechk_shuffle_semi_no_broadcast`, the
  bpe_encode two-branch pins, and the r15
  `queries.meanmax_curve_ladder` partitionless re-pin).

| query | shuffles | guard | tiny | partitionless | broadcast | bcast data-sized | row-python |
|---|---|---|---|---|---|---|---|
"""


def main() -> None:
    spark = get_spark("scale-ledger")
    spark.sparkContext.setLogLevel("ERROR")
    rows = []
    for name, fn in QUERIES.items():
        try:
            df = fn(spark, SF_DIR)
            sh, tiny, guard = C.shuffle_census(df)
            pw = len(C.partitionless_for_query(name, df))
            bc = "yes" if C.uses_broadcast_join(df) else ""
            # re-plan under the 100 TB planner simulation: only
            # code-forced broadcast hints survive there
            with C.scale_planner(spark):
                df_scale = fn(spark, SF_DIR)
                bd = len(C.broadcasts_for_query(name, df_scale))
            # row-at-a-time Python (BatchEvalPython) is banned from
            # the hot path everywhere — Arrow-batched nodes
            # (ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas)
            # are the sanctioned Python lanes
            plan = C.simple_plan(df)
            rowpy = "ROW-PY!" if "BatchEvalPython" in plan else ""
            rows.append(
                f"| `{name}` | {sh} | {guard} | {tiny} | {pw} | {bc} | {bd} | {rowpy} |"
            )
        except Exception as e:  # pragma: no cover
            rows.append(f"| `{name}` | ERROR | | | {str(e)[:40]} | | | |")
    out = HEADER + "\n".join(rows) + "\n"
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "docs", "SCALE_LEDGER.md")
    with open(path, "w") as fh:
        fh.write(out)
    print(f"wrote {path} ({len(rows)} queries)")


if __name__ == "__main__":
    main()
