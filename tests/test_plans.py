"""Plan-shape tests: the 100 TB design contract.

These assert the *physical* properties that make the operators scale
— pushdown, pruning, broadcast, bounded shuffles — so regressions
show up in CI rather than on a cluster.
"""

from __future__ import annotations

from data_frame_spark.plans import checks as C
from data_frame_spark.queries import QUERIES


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = QUERIES["select_filter_project"](spark, sf_dir)
    assert C.has_pushed_filter(df, "GreaterThan(l_quantity")
    assert C.has_pushed_filter(df, "EqualTo(l_returnflag,N)")


def test_column_pruning(spark, sf_dir):
    df = QUERIES["select_filter_project"](spark, sf_dir)
    cols = set(C.read_schema_columns(df))
    # only the 5 referenced columns are read, not all 11
    assert "l_orderkey" in cols and "l_quantity" in cols
    assert "l_shipdate" not in cols and "l_tax" not in cols


def test_star_join_broadcasts_dimensions(spark, sf_dir):
    df = QUERIES["regional_revenue"](spark, sf_dir)
    assert C.uses_broadcast_join(df)


def test_flagship_is_single_shuffle_with_partial_agg(spark, sf_dir):
    df = QUERIES["pricing_summary"](spark, sf_dir)
    plan = C.simple_plan(df)
    # one exchange for the groupBy, preceded by map-side combine
    assert C.count_shuffles(df) == 1
    assert "partial_sum" in plan


def test_topk_uses_take_ordered(spark, sf_dir):
    df = QUERIES["top_revenue_orders"](spark, sf_dir)
    assert "TakeOrderedAndProject" in C.simple_plan(df)


def test_asof_join_is_single_sort_no_join(spark, sf_dir):
    # the as-of union+window formulation must not contain a join
    df = QUERIES["asof_multi_value_lookup"](spark, sf_dir)
    plan = C.simple_plan(df)
    assert "Join" not in plan
    assert plan.count("Sort") >= 1


def test_quantile_probe_join_is_broadcast(spark, sf_dir):
    df = QUERIES["quantiles_price_and_value"](spark, sf_dir)
    assert C.uses_broadcast_join(df)


def test_no_data_sized_partitionless_windows(spark, sf_dir):
    # distributed-exact-quantile contract: global order is computed via
    # range-bucketed two-level windows; a partitionless window may only
    # appear above an aggregate (bucket-offset tables), never on raw data
    for name in (
        "quantiles_price_and_value",
        "weighted_stats_value",
        "histogram_family",
        # r15 merges: the slice leg (row_range's global ROW_NUMBER)
        # rides index_ops_family; single-series mean-max (slice lag,
        # A-cumulation, probe bracketing — normal + inverted facets)
        # and the spline leg ride meanmax_curve_family. All still
        # range-bucketed two-level plans, now pinned on the family
        # rows.
        "index_ops_family",
        "meanmax_curve_family",
    ):
        df = QUERIES[name](spark, sf_dir)
        bad = C.partitionless_for_query(name, df)
        assert not bad, f"{name}: {bad}"
    # meanmax_curve_family eagerly checkpoints its shared ladder
    # (r15), which truncates the lineage the walk above can see —
    # re-pin the PRE-checkpoint ladder directly (the round-10
    # mean_max_user_family recipe)
    from data_frame_spark.queries import meanmax_curve_ladder

    ladder = meanmax_curve_ladder(spark, sf_dir)
    bad = C.partitionless_for_query("meanmax_curve_family", ladder)
    assert not bad, f"meanmax ladder: {bad}"


def test_jaccard_verify_shuffle_budget(spark, sf_dir):
    # the shingle table and the candidate-pair table are each
    # materialized once (localCheckpoint); without that the plan
    # rebuilds the tokenize+md5 pipeline per branch (17 Exchanges in
    # round 2). Budget pinned so a refactor can't silently regress.
    # r19: the budget rose 8 -> 10 by DESIGN — ngram_jaccard's
    # verify/sizes joins pin SHUFFLE_HASH/MERGE on their
    # corpus-proportional sides (the r19 sf10 probe demonstrated the
    # planner broadcast-electing the ~GB shingle relation through the
    # checkpoint's preserved estimate and killing the driver), and
    # two of the exchanges replace exactly those broadcasts.
    df = QUERIES["ngram_jaccard_verified"](spark, sf_dir)
    assert C.count_shuffles(df) <= 10


def test_dedup_corpus_joins_never_broadcast(spark, sf_dir):
    # r19 sf10 probe finding (guide §3.1): explode-derived relations
    # (shingles, n-grams, segments, windows) UNDERESTIMATE their size
    # — Generate stats don't model the fan-out — and a localCheckpoint
    # boundary PRESERVES that estimate, so at 100× corpus the planner
    # still broadcast-elected the ~GB distinct shingle table, the
    # segment winner table, the scrub kill/reassembly tables and the
    # CC mins table, and died building them ("Not enough memory to
    # build and broadcast"). Every such join now pins
    # SHUFFLE_HASH/MERGE in the operators; no broadcast join may
    # appear ANYWHERE in these queries' final plans (the bounded
    # query-batch/eval-suite broadcasts live in OTHER queries).
    for name in (
        "ngram_jaccard_verified",
        "segment_dedup_docs",
        "spans_family",
        "near_dup_clusters_docs",
        "embedding_dedup_family",
    ):
        df = QUERIES[name](spark, sf_dir)
        plan = C.simple_plan(df)
        assert "BroadcastHashJoin" not in plan, name
        assert "BroadcastNestedLoop" not in plan, name
        assert "ShuffledHashJoin" in plan, name


def test_partitioned_meanmax_has_no_global_sort(spark, sf_dir):
    # the per-user mean-max family is the 100 TB path: every window
    # must carry PARTITION BY user_id — no partitionless window at all
    for name in (
        "mean_max_user_family",
        "event_derived_series",
    ):
        df = QUERIES[name](spark, sf_dir)
        bad = C.partitionless_for_query(name, df)
        assert not bad, f"{name}: {bad}"
    # the registry row eagerly localCheckpoints the winner table,
    # severing the ladder pipeline's lineage — the check above can no
    # longer see the mean-max windows themselves. Re-build the
    # pre-checkpoint operator output directly so the actual ladder
    # windows stay pinned (round-10 advice).
    from pyspark.sql import functions as F

    from data_frame_spark.operators import meanmax as OpMM
    from data_frame_spark.queries import t as load_t

    ev = load_t(spark, sf_dir, "events").withColumn(
        "x", F.col("ts_us") / F.lit(1000000.0)
    )
    mm = OpMM.mean_max(
        ev, "value", "x", durations=[86400, 604800],
        partition_by=["user_id"], slice_scale=6,
    )
    assert not C.data_sized_partitionless_windows(mm)


def test_chunking_is_narrow(spark, sf_dir):
    # chunking must stay a zero-shuffle narrow transform: tokenize ->
    # sequence -> explode -> slice, linear in input bytes at any scale.
    # Pinned on the operator directly (not a registry entry) so the
    # assertion survives registry merges — pack_chunks_256 consumes
    # this subplan but adds the packing shuffle by design.
    from data_frame_spark.operators import text as OpText

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = OpText.chunk_rows(docs, "text", "doc_id", chunk_tokens=64, overlap=16)
    assert C.count_shuffles(df) == 0
    assert not C.data_sized_partitionless_windows(df)


def test_gopher_repetition_is_narrow(spark, sf_dir):
    # a per-document quality filter must not shuffle: every Gopher
    # fraction is a sorted in-row gram array + one run-length
    # F.aggregate scan, fused into the scan's map pass at any scale
    df = QUERIES["gopher_repetition_docs"](spark, sf_dir)
    assert C.count_shuffles(df) == 0
    assert not C.data_sized_partitionless_windows(df)


def test_binary_features_legs_are_narrow(spark, sf_dir):
    # both facets of binary_features_family (the r17 merge) are
    # embarrassingly parallel per-document scans: the meta leg pure
    # Column ops, the features leg ONE Arrow batch pass
    # (mapInPandas) — zero exchanges on either leg, and the facet
    # union adds none (plan-level). Pinned per-leg (the
    # decontamination_leg motion) so the pins outlive the union.
    from data_frame_spark.queries import binary_features_leg

    meta = binary_features_leg(spark, sf_dir, "meta")
    feats = binary_features_leg(spark, sf_dir, "features")
    assert C.count_shuffles(meta) == 0
    assert C.count_shuffles(feats) == 0
    assert "MapInPandas" in C.simple_plan(feats)
    fam = QUERIES["binary_features_family"](spark, sf_dir)
    assert C.count_shuffles(fam) == 0
    assert C.broadcasts_for_query("binary_features_family", fam) == []
    assert not C.data_sized_partitionless_windows(fam)


def test_segment_dedup_min_aggregate_not_window(spark, sf_dir):
    # corpus-wide first-occurrence must be the map-combinable MIN
    # keyed by segment hash (partial_min before the exchange), never
    # a row_number window over the hash — a hot boilerplate segment
    # would funnel through one task. Segmentation itself is narrow;
    # budget: hash groupBy + join back + doc reassembly.
    df = QUERIES["segment_dedup_docs"](spark, sf_dir)
    plan = C.simple_plan(df)
    assert "partial_min" in plan
    assert not C.data_sized_partitionless_windows(df)
    assert C.count_shuffles(df) <= 4


def test_bloom_gate_broadcasts_and_stays_doc_keyed(spark, sf_dir):
    # the bloom probes and the exact verify must all arrive as
    # BROADCAST builds (the corpus side never shuffles for the gate);
    # the only hash exchanges are the doc-keyed shingle/aggregate
    # ones. Pinned on the family's bloom LEG (the standalone row
    # retired into decontamination_family at r16) so the pin sees
    # the gate itself, not the facet union.
    from data_frame_spark.queries import decontamination_leg

    df = decontamination_leg(spark, sf_dir, "bloom")
    assert C.uses_broadcast_join(df)
    assert C.count_shuffles(df) <= 10
    assert not C.data_sized_partitionless_windows(df)


def test_label_centroids_single_combinable_shuffle(spark, sf_dir):
    # per-label mean vectors: posexplode (narrow) + ONE (label, dim)
    # exchange with map-side partial sums — never collect_list(vector)
    df = QUERIES["label_centroids_embeddings"](spark, sf_dir)
    plan = C.simple_plan(df)
    assert C.count_shuffles(df) == 1
    assert "partial_sum" in plan
    assert "collect_list" not in plan


def test_temperature_weights_windows_are_aggregate_sized(spark, sf_dir):
    # one count shuffle; the normalization windows run over the
    # |strata|-row aggregate, never the data. Strata are language
    # codes — an attribute domain declared bounded in
    # checks.DECLARED_BOUNDED_KEYS (the strict classifier would flag
    # the stratum-keyed aggregate as data-dependent otherwise)
    df = QUERIES["temperature_mixture_weights"](spark, sf_dir)
    assert not C.partitionless_for_query("temperature_mixture_weights", df)
    assert C.count_shuffles(df) <= 3


def test_cms_counters_bounded_and_broadcast(spark, sf_dir):
    # the counter build is ONE map-combinable shuffle bounded by
    # depth x width; estimation joins arrive as broadcast builds
    df = QUERIES["cms_token_counts"](spark, sf_dir)
    assert C.uses_broadcast_join(df)
    plan = C.simple_plan(df)
    assert "partial_count" in plan
    assert not C.data_sized_partitionless_windows(df)


def test_hll_is_map_combinable_no_big_windows(spark, sf_dir):
    # HLL register build: narrow explode + rho map, then (scope, j)
    # MAX with map-side combine — at most m rows per scope reach the
    # exchange; no window over raw data anywhere
    df = QUERIES["hll_distinct_shingles"](spark, sf_dir)
    plan = C.simple_plan(df)
    assert "partial_max" in plan
    assert not C.data_sized_partitionless_windows(df)


def test_weighted_sample_is_single_pass_topk(spark, sf_dir):
    # A-ES weighted sampling: narrow key map + TakeOrderedAndProject
    # (the per-partition partial top-k IS the reservoir) — zero
    # shuffles, no global sort, no windows
    df = QUERIES["weighted_sample_docs"](spark, sf_dir)
    plan = C.simple_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert C.count_shuffles(df) == 0
    assert not C.data_sized_partitionless_windows(df)


def test_bm25_single_shuffle_broadcast_stats_topk(spark, sf_dir):
    # BM25: one map-combinable corpus shuffle (per-doc tf aggregate),
    # stats row arrives broadcast, top-k plans as TakeOrderedAndProject
    df = QUERIES["bm25_search_docs"](spark, sf_dir)
    plan = C.simple_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert C.uses_broadcast_join(df)
    assert "partial_count" in plan or "partial_sum" in plan
    # the tf groupBy is the ONLY data-sized exchange; the stats
    # aggregate adds its single-row exchanges at most
    assert C.count_shuffles(df) <= 4
    assert not C.data_sized_partitionless_windows(df)


def test_unigram_lm_broadcasts_model_two_data_shuffles(spark, sf_dir):
    # LM + params broadcast onto the token stream; the only
    # data-sized shuffles are the token-count and per-doc-sum
    # aggregates (plus aggregate-sized single-row exchanges); vocab
    # cap is a TakeOrderedAndProject, never a global sort
    # (the vocab cap's TakeOrderedAndProject runs inside the eager
    # count-table checkpoint job, so it is not in the final plan)
    from data_frame_spark.operators import text as OpText

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = OpText.unigram_lm_nll(docs, "text", "doc_id", vocab_size=10000)
    plan = C.simple_plan(df)
    assert C.uses_broadcast_join(df)
    assert not C.data_sized_partitionless_windows(df)
    # one corpus shuffle (per-doc sum) + two single-row sums over the
    # checkpointed, vocab-sized count table — never a corpus re-scan
    data, tiny, _guard = C.shuffle_census(df)
    assert data <= 3, (data, tiny)
    assert plan.count("FileScan") == 1


def test_heavy_hitters_gate_is_mapside_filter(spark, sf_dir):
    # the CMS gate must be a literal-array Filter BELOW the exact
    # aggregate (map-side kill of light keys) — no join, no window,
    # one data shuffle for the candidates-only groupBy. Exercised on
    # the operator directly (the registered query adds the estimate
    # join on top since the round-7 registry merge).
    from data_frame_spark.operators.sketch import cms_heavy_hitters
    from data_frame_spark.operators.text import tokens as _tokens
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tok = docs.select(F.explode(_tokens(F.col("text"))).alias("token"))
    df = cms_heavy_hitters(tok, "token", min_div=30, width=16, depth=3)
    plan = C.simple_plan(df)
    assert "Join" not in plan and "Window" not in plan
    assert "least(" in plan and "Filter" in plan
    agg = plan.find("partial_count")
    flt = plan.rfind("least(")
    assert agg != -1 and flt > agg  # filter printed below the partial agg
    assert C.count_shuffles(df) == 1
    assert not C.data_sized_partitionless_windows(df)
    # and the merged query keeps its estimate join broadcast with
    # bounded (depth x width) build sides at any scale
    with C.scale_planner(spark):
        q = QUERIES["cms_token_counts"](spark, sf_dir)
        assert C.broadcasts_for_query("cms_token_counts", q) == []


def test_incremental_dedup_store_never_shuffles(spark, sf_dir):
    # the fingerprint store must be the STREAMED side of a broadcast
    # left-semi probe — a store-side Exchange would re-shuffle
    # yesterday's whole corpus every night. Pinned at OPERATOR level
    # (the registry row merged into dedup_batch_family in round 13;
    # this is the same construction its 'incremental' facet uses).
    from pyspark.sql import functions as F

    from data_frame_spark.operators import dedup as OpDedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fp = F.substring("text", 1, 40)
    store = docs.where(F.col("doc_id") % 3 == 0).select(fp.alias("fingerprint"))
    batch = docs.where(F.col("doc_id") % 3 != 0)
    df = OpDedup.incremental_dedup_keys(batch, store, fp, "doc_id")
    plan = C.simple_plan(df)
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert plan.count("BroadcastHashJoin") >= 2  # semi probe + anti join
    # the only data shuffles are batch-keyed (canonical agg + the
    # probe-set dedup); the store side streams into the semi probe
    data, _tiny, _guard = C.shuffle_census(df)
    assert data <= 2, data
    assert not C.data_sized_partitionless_windows(df)


def test_sampling_has_no_global_sort(spark, sf_dir):
    # the stratified rank shuffles by stratum; the uniform sample must
    # plan as TakeOrderedAndProject (per-partition top-k), never a
    # data-sized global Sort/Window
    df = QUERIES["stratified_sample_docs"](spark, sf_dir)
    assert "TakeOrderedAndProject" in C.simple_plan(df)
    assert not C.data_sized_partitionless_windows(df)
    assert C.count_shuffles(df) <= 2


def test_stratified_prefilter_sits_below_window(spark, sf_dir):
    # two-phase contract: the per-stratum hash threshold must arrive
    # via a BROADCAST join and the conv(md5-prefix) filter must run
    # map-side, so the stratum window only ever sees the ~N-row
    # remnant — never the corpus
    df = QUERIES["stratified_sample_docs"](spark, sf_dir)
    plan = C.simple_plan(df)
    assert C.uses_broadcast_join(df)
    assert "conv(" in plan
    win = plan.find("Window")
    flt = plan.rfind("conv(")
    # simple-plan prints top-down: the filter text appears BELOW the
    # window node it feeds
    assert win != -1 and flt > win


def test_per_source_cap_prefilter_sits_below_window(spark, sf_dir):
    # per_group_top_n's two-phase contract, same shape as the
    # stratified pin: the per-group quantile threshold arrives via a
    # BROADCAST join and the order-key filter runs map-side, so the
    # exact rank window only sees the remnant — never the corpus
    df = QUERIES["per_source_cap_docs"](spark, sf_dir)
    plan = C.simple_plan(df)
    assert C.uses_broadcast_join(df)
    win = plan.find("Window")
    flt = plan.rfind("__t#")  # threshold-column filter below the window
    assert win != -1 and flt > win
    assert not C.data_sized_partitionless_windows(df)


def test_curriculum_buckets_no_global_ntile(spark, sf_dir):
    # bucket thresholds must come from the range-bucketed quantile
    # primitive and broadcast back — never a corpus-wide NTILE/rank
    # window without partitioning
    df = QUERIES["curriculum_buckets_docs"](spark, sf_dir)
    assert C.uses_broadcast_join(df)
    assert not C.data_sized_partitionless_windows(df)


def test_cc_star_round_shuffle_budget(spark):
    # one alternating CC round (large-star then small-star) must stay
    # within a fixed physical-exchange budget: the mid-round persist
    # boundary stops the first star's pipeline from being replicated
    # into each of the second star's three branches (38 exchanges
    # without it), and no collect_set may appear anywhere — the
    # neighborhood min is a map-combinable aggregate, never an array
    from data_frame_spark.operators.graph import _star

    edges = spark.createDataFrame(
        [(i + 1, i) for i in range(500)], "u long, v long"
    ).localCheckpoint(eager=True)
    mid = _star(edges, large=True).localCheckpoint(eager=False)
    stepped = _star(mid, large=False)
    plan = C.simple_plan(stepped)
    assert "collect_set" not in plan
    # small-star over a checkpointed mid: groupBy exchange + join
    # exchanges + distinct — bounded regardless of graph size
    assert C.count_shuffles(stepped) <= 10
    assert C.count_shuffles(_star(edges, large=True)) <= 6


def test_decontamination_broadcasts_benchmark(spark, sf_dir):
    # the benchmark n-gram set must reach the corpus via broadcast —
    # the corpus is never shuffled for the contamination join
    # (pinned on the family's ngram leg since the r16 merge)
    from data_frame_spark.queries import decontamination_leg

    df = decontamination_leg(spark, sf_dir, "ngram")
    assert C.uses_broadcast_join(df)


def test_contamination_audit_is_broadcast_free_at_scale(spark, sf_dir):
    # round-7 fix of the round-6 scale flag: BOTH sides of the
    # split-vs-split audit are corpus-proportional (the test split is
    # 5% of the corpus — terabytes of 5-gram hashes at 100 TB), so
    # the audit must NOT broadcast anything: the n-gram tables meet
    # in a pinned ShuffledHashJoin on the hash, and the source
    # roll-up join pins SHUFFLE_HASH too (r19 — the sf10 probe caught
    # the planner broadcast-electing the train split's (doc_id,
    # source) projection at 100×, so "left size-elected" was not safe)
    from data_frame_spark.queries import decontamination_leg

    with C.scale_planner(spark):
        df = decontamination_leg(spark, sf_dir, "audit")
        assert C.broadcasts_for_query("decontamination_family", df) == []
        plan = C.simple_plan(df)
    assert "BroadcastExchange" not in plan
    assert "ShuffledHashJoin" in plan


def test_no_code_forced_data_sized_broadcasts(spark, sf_dir):
    # the 100 TB planner simulation (autoBroadcastJoinThreshold=-1):
    # size-elected broadcasts vanish at scale on their own, so any
    # BroadcastExchange left is one OUR code forces via a hint — and
    # its input subtree must be bounded (round-7 fix: regional_revenue
    # broadcast a dim tree CONTAINING customer, shipping_priority
    # broadcast orders + filtered customer; both are SF-proportional)
    for name in (
        "regional_revenue",
        "shipping_priority",
        "salted_join_segment_revenue",
        "dsir_importance_docs",
        "cms_token_counts",
        "lm_nll_docs",
        "grid_quantiles_price",
        "kmv_family",
        "near_dup_clusters_docs",
        "segment_dedup_docs",
        # r18 scan-share: the numeric facet broadcasts two views of
        # the checkpointed bucket table (declared, bucket-bounded)
        "histogram_family",
    ):
        with C.scale_planner(spark):
            df = QUERIES[name](spark, sf_dir)
            bad = C.broadcasts_for_query(name, df)
        assert not bad, f"{name}: {bad}"


def test_declared_broadcast_fingerprints_match_current_plans(spark, sf_dir):
    # every DECLARED_BROADCAST_OK fingerprint must match its query's
    # CURRENT plan 1:1 (round-8 advice): fingerprints encode plan-text
    # shapes, so Spark-formatting or fixture drift would otherwise rot
    # silently — either as an unmatched flag (false alarm) or as an
    # unused fingerprint (a stale declaration waiting to forgive the
    # wrong broadcast)
    for name, decls in C.DECLARED_BROADCAST_OK.items():
        with C.scale_planner(spark):
            df = QUERIES[name](spark, sf_dir)
            flagged = C.data_sized_broadcasts(
                df, bounded_names=C.DECLARED_BOUNDED_KEYS.get(name, frozenset())
            )
            bad = C.broadcasts_for_query(name, df)
        assert not bad, f"{name}: flagged broadcasts no fingerprint matches: {bad}"
        assert len(flagged) == len(decls), (
            f"{name}: {len(decls)} declared fingerprints but "
            f"{len(flagged)} flagged broadcasts — stale declaration"
        )


def test_interval_join_is_shuffle_equi_join(spark, sf_dir):
    # the attribution interval join must plan as a hash-partitioned
    # equi-join on user_id with the time bounds as residual
    # conditions — at 100 TB neither side is broadcastable and the
    # state/shuffle must distribute by the key. Pinned on the
    # pre-union attrib leg of event_funnel_family (the r15 merge of
    # clicks_to_purchases_events) so the pin sees the join itself,
    # not the facet union.
    from data_frame_spark.queries import event_funnel_leg

    with C.scale_planner(spark):
        df = event_funnel_leg(spark, sf_dir, "attrib")
        plan = C.simple_plan(df)
        assert "BroadcastExchange" not in plan
        assert not C.broadcasts_for_query("event_funnel_family", df)
    # equi-join, not a cartesian/range-only join
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan


def test_broadcast_allowance_is_counted_not_blanket(spark, sf_dir):
    # a DECLARED query is allowed exactly its declared number of
    # data-sized broadcasts; piling a SECOND forced corpus broadcast
    # on top must flag — declarations never turn the classifier off
    from pyspark.sql import functions as F

    from data_frame_spark.queries import decontamination_leg

    with C.scale_planner(spark):
        base = decontamination_leg(spark, sf_dir, "ngram")
        assert C.broadcasts_for_query("decontamination_family", base) == []
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        worse = base.join(
            F.broadcast(docs.select(F.col("doc_id"))), "doc_id"
        )
        assert C.broadcasts_for_query("decontamination_family", worse)


def test_broadcast_classifier_catches_forced_corpus_broadcast(spark, sf_dir):
    # positive control: force-broadcasting a corpus-derived side must
    # be flagged — this is exactly the round-6 audit bug shape
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    with C.scale_planner(spark):
        df = docs.join(F.broadcast(docs.select("doc_id").distinct()), "doc_id")
        assert C.data_sized_broadcasts(df)
    # ...and the benchmark-suite decontamination broadcast stays
    # declared-legitimate rather than structurally blessed
    from data_frame_spark.queries import decontamination_leg

    with C.scale_planner(spark):
        ddf = decontamination_leg(spark, sf_dir, "ngram")
        assert C.data_sized_broadcasts(ddf)  # raw classifier flags it
        assert C.broadcasts_for_query("decontamination_family", ddf) == []


def test_broadcast_fingerprint_rejects_replaced_broadcast(spark, sf_dir):
    # round-8 advice fix: the declared allowance is a FINGERPRINT, not
    # a count — a query whose single legitimate broadcast is REPLACED
    # by a different corpus-sized forced broadcast must flag even
    # though the flagged count equals the old allowance
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    with C.scale_planner(spark):
        wrong = docs.join(F.broadcast(docs.select("doc_id").distinct()), "doc_id")
        assert C.broadcasts_for_query("decontamination_family", wrong)


def test_guard_census_is_structural(spark, sf_dir):
    # round-8 advice fix: only a round-robin repartition sitting on a
    # pure narrow scan pipeline (ensure_parallelism's position) is a
    # cost-free guard; a mid-pipeline df.repartition(n) over derived
    # data re-shuffles the corpus at any scale and must count as DATA
    from pyspark.sql import functions as F

    from data_frame_spark.operators.distributed import ensure_parallelism

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    data, _tiny, guard = C.shuffle_census(ensure_parallelism(docs.coalesce(1)))
    assert (data, guard) == (0, 1)
    agg = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).repartition(8)
    data, _tiny, guard = C.shuffle_census(agg)
    assert guard == 0 and data == 2  # groupBy exchange + the repartition


def test_ensure_parallelism_is_identity_on_wide_input(spark):
    # the small-file guard must NOT add a shuffle once the input is
    # already as parallel as the session target — at scale the corpus
    # arrives with thousands of partitions and passes through untouched
    from data_frame_spark.operators.distributed import ensure_parallelism

    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    wide = spark.range(10_000).repartition(n)
    assert ensure_parallelism(wide) is wide
    narrow = spark.range(10_000).coalesce(1)
    out = ensure_parallelism(narrow)
    assert out.rdd.getNumPartitions() == n


def test_kmv_group_limits_before_exchange(spark, sf_dir):
    # the per-scope k-mins must prune with WindowGroupLimit below the
    # exchange so ~k rows per group move, not every distinct hash
    df = QUERIES["kmv_family"](spark, sf_dir)
    plan = C.simple_plan(df)
    assert "WindowGroupLimit" in plan
    assert C.count_shuffles(df) <= 6


def test_tfidf_shuffle_budget(spark, sf_dir):
    # three data-sized shuffles (tf agg, df agg over the tf table,
    # per-doc top-k window) + broadcast/aggregate-sized exchanges;
    # the tf stream must JOIN the df table via broadcast (no shuffle
    # of the corpus for the join) and the top-k must group-limit
    # before its exchange
    df = QUERIES["tfidf_top_terms_docs"](spark, sf_dir)
    assert C.count_shuffles(df) <= 7
    assert C.uses_broadcast_join(df)
    assert "WindowGroupLimit" in C.simple_plan(df)
    assert not C.data_sized_partitionless_windows(df)


def test_mixture_prefilter_and_budget(spark, sf_dir):
    # mixture sampling shares the two-phase contract: broadcast
    # per-stratum quota thresholds, map-side conv(md5-prefix) filter
    # BELOW the exact-rank window, bounded shuffles, no data-sized
    # partitionless window
    df = QUERIES["mixture_sample_docs"](spark, sf_dir)
    plan = C.simple_plan(df)
    assert C.uses_broadcast_join(df)
    assert not C.data_sized_partitionless_windows(df)
    win = plan.find("Window")
    flt = plan.rfind("conv(")
    assert win != -1 and flt > win
    assert C.count_shuffles(df) <= 2


def test_concat_pack_uses_bucketed_running_sum(spark, sf_dir):
    # the global running token sum must go through the range-bucketed
    # two-level primitive: no partitionless window over the chunk
    # stream, and only the bucket-keyed data shuffle moves rows
    df = QUERIES["pack_chunks_256"](spark, sf_dir)
    assert not C.data_sized_partitionless_windows(df)
    data, tiny, _guard = C.shuffle_census(df)
    assert data <= 2, f"data shuffles {data}"


def test_rollup_is_single_shuffle_expand(spark, sf_dir):
    # grouping sets plan as Expand + ONE map-side-combinable aggregate:
    # one shuffle of partial aggregates regardless of corpus size
    df = QUERIES["corpus_stats_rollup"](spark, sf_dir)
    plan = C.simple_plan(df)
    assert "Expand" in plan
    assert C.count_shuffles(df) == 1
    assert "partial_" in plan


def test_denylist_scrub_is_map_only(spark, sf_dir):
    # regex scrub + counts must stay a zero-shuffle map pass
    df = QUERIES["denylist_scrub_docs"](spark, sf_dir)
    assert C.count_shuffles(df) == 0
    assert not C.data_sized_partitionless_windows(df)


def test_grid_quantiles_sketch_plan(spark, sf_dir):
    # quantiles WITHOUT a sort: the data path is two map-combinable
    # aggregations (range, then bin counts against the broadcast
    # range table); all remaining machinery runs on the
    # aggregate-sized bin-count sketch. No global sort of the data,
    # no data-sized partitionless window.
    df = QUERIES["grid_quantiles_price"](spark, sf_dir)
    assert C.uses_broadcast_join(df)
    assert C.data_sized_partitionless_windows(df) == []
    data, tiny, _guard = C.shuffle_census(df)
    # 2 data shuffles (range agg, bin-count agg) + 1 exchange of the
    # aggregate-sized bin table itself (≤ groups x bins rows — bounded
    # by construction, though the census's tiny-rule only recognizes
    # __bucket spines)
    assert data <= 3, (data, tiny)
    plan = C.simple_plan(df)
    assert "partial_count" in plan  # map-side combine on the bin counts


def test_bigram_lm_vocab_joins_broadcast(spark, sf_dir):
    # vocab mapping must reach the pair stream as broadcast joins
    # (map-side), never a shuffle of the corpus on the token key —
    # pinned on the operator directly so the assertion survives
    # registry merges (lm_nll_docs composes this with the unigram LM)
    from data_frame_spark.operators import text as OpText

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = OpText.bigram_lm_nll(docs, "text", "doc_id", vocab_size=10000)
    assert C.uses_broadcast_join(df)
    assert C.data_sized_partitionless_windows(df) == []


def test_robust_outliers_scoring_is_broadcast(spark, sf_dir):
    # med/mad are checkpointed aggregate-sized tables; the scoring
    # pass must join them back broadcast and keep one data shuffle
    # (the final per-scope aggregate)
    df = QUERIES["robust_outliers_value"](spark, sf_dir)
    assert C.uses_broadcast_join(df)
    assert C.data_sized_partitionless_windows(df) == []
    data, tiny, _guard = C.shuffle_census(df)
    assert data <= 2, (data, tiny)


def test_zipf_rank_has_no_vocab_sized_partitionless_window(spark, sf_dir):
    # the vocabulary rank is a global row_number over a corpus-sized
    # key domain (token types grow with the data, Heaps' law) — it
    # must route through the range-bucketed two-level rank, and the
    # tightened classifier (which no longer blesses a partitionless
    # window just because SOME aggregate sits below it) must agree
    # (round-5 verdict item #3)
    df = QUERIES["zipf_fit_tokens"](spark, sf_dir)
    assert C.data_sized_partitionless_windows(df) == []


def test_classifier_rejects_vocab_window(spark, sf_dir):
    # regression for the ledger loophole itself: a partitionless rank
    # directly over a term-keyed aggregate (the round-5 zipf shape)
    # MUST be flagged even though a HashAggregate sits below the window
    from pyspark.sql import Window, functions as F
    from data_frame_spark.operators import text as OpText

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tok = docs.select(F.explode(OpText.tokens(F.col("text"))).alias("term"))
    cnt = tok.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    w = Window.orderBy(F.col("c").desc(), F.col("term"))
    ranked = cnt.select(F.row_number().over(w).alias("x"), "c")
    assert C.data_sized_partitionless_windows(ranked) != []


def test_bpe_encode_broadcasts_vocab_no_corpus_shuffle_for_join(
    spark, sf_dir, monkeypatch
):
    # encode's join of the posexploded corpus against the word->syms
    # map must be a broadcast (the map is vocabulary-bounded), with
    # the only corpus-sized exchanges being the id-keyed reassembly
    # groupBy and the final slim id left-join — never a shuffle of
    # the word stream for the lookup itself
    import os

    from data_frame_spark.operators import bpe
    from data_frame_spark.operators.bpe import bpe_encode

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    enc = bpe_encode(docs, [("t", "h"), ("e", "</w>")])
    plan = C.simple_plan(enc)
    assert "BroadcastHashJoin" in plan
    assert C.count_shuffles(enc) <= 3
    assert not C.data_sized_partitionless_windows(enc)
    # the size gate's other branch (round-11 advisory): a vocabulary
    # past broadcast practicality must fall back to a pinned
    # SHUFFLE_HASH equi-join on the word — never a broadcast of a
    # 10^8-row distinct-token table, never a sort-merge surprise
    monkeypatch.setattr(bpe, "BROADCAST_MAX_WORDS", 1)
    enc2 = bpe_encode(docs, [("t", "h")])
    plan2 = C.simple_plan(enc2)
    assert "ShuffledHashJoin" in plan2
    assert C.count_shuffles(enc2) <= 6
    assert not C.data_sized_partitionless_windows(enc2)


def test_duplicate_spans_prechk_shuffle_semi_no_broadcast(spark, sf_dir):
    # spans_family eagerly localCheckpoints the span table (two facet
    # consumers), which severs lineage for registry-level plan
    # inspection — so pin the PRE-checkpoint shape at operator level
    # (standing rule since r11): the duplicated-hash mark-back must be
    # a SHUFFLE left-semi equi-join (the hash set is
    # corpus-proportional — broadcasting it would ship the whole
    # duplicate census to every executor), the island merge runs in
    # doc-keyed windows, and nothing is a data-sized partitionless
    # window
    import os

    from data_frame_spark.operators.dedup import duplicate_spans

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    spans = duplicate_spans(docs, "text", "doc_id", k=5)
    plan = C.simple_plan(spans)
    assert "ShuffledHashJoin" in plan and "LeftSemi" in plan
    assert "BroadcastHashJoin" not in plan
    assert not C.data_sized_partitionless_windows(spans)


def test_linear_classifier_is_single_shuffle_map_side(spark, sf_dir):
    # the trained weight vector is a PLAN LITERAL, so scoring is pure
    # map-side codegen over the corpus scan: no join of any kind, no
    # broadcast, no window — the doc-keyed aggregate is the only
    # exchange. This is what makes the quality-filter pass viable as
    # one narrow stage at 100 TB.
    import os

    from data_frame_spark.operators.classify import linear_text_classifier

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    out = linear_text_classifier(docs, "text", "doc_id", [100, -200, 300])
    plan = C.simple_plan(out)
    assert C.count_shuffles(out) == 1
    assert "Join" not in plan
    assert not C.data_sized_partitionless_windows(out)


def test_containment_broadcast_contract_and_partitioned_window(spark, sf_dir):
    # the fixed eval suite's hash set is broadcast (corpus n-grams
    # drop map-side); the per-doc n-gram total is a doc-PARTITIONED
    # window on the distinct relation (never partitionless, never a
    # second corpus scan)
    import os

    from data_frame_spark.operators.dedup import contamination_containment
    from pyspark.sql import functions as F

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    bench = docs.where(F.col("doc_id") % 50 == 0)
    out = contamination_containment(docs, bench, "text", "doc_id", n=13)
    assert "BroadcastHashJoin" in C.simple_plan(out)
    assert not C.data_sized_partitionless_windows(out)


def test_triangle_count_plan_is_oriented_and_broadcast_free(spark, sf_dir):
    # triangle_count checkpoints `oriented` eagerly, so the returned
    # frame's plan only shows the wedge/closing/per-node stage — pin
    # BOTH stages on their pre-checkpoint expressions (round-13 review:
    # asserting only on the final frame left the degree-attach joins
    # uninspected)
    from data_frame_spark.operators.graph import _oriented_edges, triangle_count
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", F.col("l_partkey").cast("long").alias("p")
    )
    a, b = li.alias("a"), li.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.p") < F.col("b.p")),
    ).select(F.col("a.p").alias("src"), F.col("b.p").alias("dst"))
    und = (
        pairs.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    with C.scale_planner(spark):
        ori, _nodes = _oriented_edges(und)
        # the orientation stage: two hash equi-joins, nothing forced
        assert C.broadcasts_for_query("__triangle_orient__", ori) == []
        oplan = C.simple_plan(ori)
        assert "BroadcastNestedLoop" not in oplan and "Cartesian" not in oplan
        assert "Window" not in oplan
        df = triangle_count(pairs)
        assert C.broadcasts_for_query("__triangle_op__", df) == []
    plan = C.simple_plan(df)
    assert "BroadcastNestedLoop" not in plan and "Cartesian" not in plan
    assert not C.data_sized_partitionless_windows(df)
    assert not C.data_sized_partitionless_windows(ori)


def test_label_propagation_round_is_vertex_keyed(spark, sf_dir):
    # each LPA round must be: one labels⋈edges equi-join + ONE
    # dst-keyed vote exchange feeding both vote aggregates
    # exchange-free (r19 single-exchange shape) — never a row_number
    # window over a potentially hot label, never a forced broadcast.
    # Pinned on the PRE-checkpoint round body (_lpa_round): the
    # operator's returned frame is checkpoint-truncated to an RDD
    # scan, so asserting on it is vacuous (round-13 review finding)
    import re

    from data_frame_spark.operators.graph import _lpa_round
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    bset = li.select(
        F.col("l_partkey").cast("long").alias("src"),
        (F.col("l_suppkey") + 1_000_000).cast("long").alias("dst"),
    ).distinct()
    e = bset.unionAll(
        bset.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    labels = nodes.select("node", F.col("node").alias("label"))
    with C.scale_planner(spark):
        rnd = _lpa_round(e, nodes, labels)
        assert C.broadcasts_for_query("__lpa_round__", rnd) == []
        plan = C.simple_plan(rnd)
    assert "Window" not in plan  # argmax is MAX(struct), not row_number
    # r19: the weighted vote union is exchanged ONCE keyed by dst
    # alone — hashpartitioning(dst) satisfies the clustering
    # requirement of both the (dst, label) weight-sum and the per-dst
    # argmax, so a (dst, label)-keyed exchange reappearing means the
    # single-exchange shape regressed to two vote shuffles per round
    assert re.search(r"hashpartitioning\(dst#\d+L?, label#", plan) is None
    assert re.search(r"hashpartitioning\(dst#\d+L?,", plan) is not None
    assert not C.data_sized_partitionless_windows(rnd)


def test_bfs_round_is_vertex_keyed_min_merge(spark, sf_dir):
    # one min-plus relaxation (pinned PRE-checkpoint, like _lpa_round):
    # a dists⋈edges equi-join, then ONE fused map-combinable MIN over
    # the union of relaxed + running distances (r19: min of mins ==
    # min over the union, one exchange per round) — no window, no
    # forced broadcast
    from data_frame_spark.operators.graph import _relax_round
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    bset = li.select(
        F.col("l_partkey").cast("long").alias("src"),
        (F.col("l_suppkey") + 1_000_000).cast("long").alias("dst"),
    ).distinct()
    e = bset.unionAll(
        bset.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    dists = (
        li.where(F.col("l_partkey") % 100 == 0)
        .select(F.col("l_partkey").cast("long").alias("node"))
        .distinct()
        .select("node", F.lit(0).cast("long").alias("hops"))
    )
    with C.scale_planner(spark):
        rnd = _relax_round(e, dists, "hops", F.lit(1))
        assert C.broadcasts_for_query("__bfs_round__", rnd) == []
        plan = C.simple_plan(rnd)
    assert "Window" not in plan
    assert "partial_min" in plan  # both the relax and the merge combine map-side
    assert not C.data_sized_partitionless_windows(rnd)


def test_kcore_round_is_semi_join_peel(spark, sf_dir):
    # one synchronous peel (pinned PRE-checkpoint, like _lpa_round):
    # a map-combinable endpoint-degree aggregate plus two LEFT SEMI
    # equi-joins — no window, no collected node set, no forced
    # broadcast under the 100 TB planner simulation
    from data_frame_spark.operators.graph import _kcore_round
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    und = (
        li.select(
            F.col("l_partkey").cast("long").alias("u"),
            (F.col("l_suppkey") + 1_000_000).cast("long").alias("v"),
        )
        .distinct()
    )
    with C.scale_planner(spark):
        rnd = _kcore_round(und, 5)
        assert C.broadcasts_for_query("__kcore_round__", rnd) == []
        plan = C.simple_plan(rnd)
    assert "Window" not in plan
    assert "partial_count" in plan  # the degree aggregate combines map-side
    assert plan.count("LeftSemi") == 2  # u-side and v-side keep filters
    assert not C.data_sized_partitionless_windows(rnd)


def test_rollup_family_is_expand_plus_one_aggregate_per_facet(spark, sf_dir):
    # the multi-level aggregation row must stay THE textbook Catalyst
    # shape: one Expand node fanning rows into their grouping sets +
    # one map-combinable partial aggregate per facet — never a join,
    # never a window, never a self-union of the fact table per level
    from data_frame_spark.queries import QUERIES

    with C.scale_planner(spark):
        df = QUERIES["rollup_family"](spark, sf_dir)
        assert C.broadcasts_for_query("rollup_family", df) == []
        plan = C.simple_plan(df)
    assert "Window" not in plan and "Join" not in plan
    assert plan.count("Expand") == 3  # one per facet, not one per level
    assert "partial_count" in plan
    assert not C.data_sized_partitionless_windows(df)


def test_sssp_round_is_vertex_keyed_min_merge(spark, sf_dir):
    # one weighted min-plus relaxation (pinned PRE-checkpoint, the
    # hop-count shape with the weight riding the edge row): a
    # dists⋈edges equi-join, a map-combinable MIN on the destination,
    # and the union min-merge — no window, no forced broadcast
    from data_frame_spark.operators.graph import _relax_round
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    bset = li.groupBy(
        F.col("l_partkey").cast("long").alias("src"),
        (F.col("l_suppkey") + 1_000_000).cast("long").alias("dst"),
    ).agg(F.min(F.floor(F.col("l_extendedprice") * 100).cast("long")).alias("w"))
    e = bset.unionAll(
        bset.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    )
    dists = (
        li.where(F.col("l_partkey") % 100 == 0)
        .select(F.col("l_partkey").cast("long").alias("node"))
        .distinct()
        .select("node", F.lit(0).cast("long").alias("dist"))
    )
    with C.scale_planner(spark):
        rnd = _relax_round(e, dists, "dist", F.col("w"))
        assert C.broadcasts_for_query("__sssp_round__", rnd) == []
        plan = C.simple_plan(rnd)
    assert "Window" not in plan
    assert "partial_min" in plan  # both the relax and the merge combine map-side
    assert not C.data_sized_partitionless_windows(rnd)


def test_scd2_is_one_key_exchange_two_sorted_windows(spark, sf_dir):
    # both window passes (lag change-filter, lead effective dating)
    # partition by the key — ONE hash exchange, no join, no
    # partitionless window, no broadcast under the 100 TB planner
    from data_frame_spark.queries import scd2_customer_dim

    with C.scale_planner(spark):
        df = scd2_customer_dim(spark, sf_dir)
        assert C.broadcasts_for_query("__scd2__", df) == []
        plan = C.simple_plan(df)
    assert "Join" not in plan
    assert not C.data_sized_partitionless_windows(df)


def test_table_diff_is_one_full_outer_key_join(spark, sf_dir):
    # snapshot reconciliation must be ONE key-partitioned full-outer
    # equi-join + narrow classify — no window, and neither
    # corpus-proportional side broadcast under the 100 TB planner
    from data_frame_spark.queries import table_diff_customers

    with C.scale_planner(spark):
        df = table_diff_customers(spark, sf_dir)
        assert C.broadcasts_for_query("__table_diff__", df) == []
        plan = C.simple_plan(df)
    assert "Window" not in plan
    assert plan.count("FullOuter") == 1
    assert not C.data_sized_partitionless_windows(df)


def test_pagerank_round_is_vertex_keyed_join_shape(spark, sf_dir):
    # one power iteration (pinned PRE-checkpoint — the registered
    # rows checkpoint each round): the ranks⋈edges contribution
    # shuffle + map-combinable dst-sum + the vertex-keyed restore
    # left join the r15 A/B kept — no window, no forced broadcast
    from pyspark.sql import functions as F

    from data_frame_spark.operators.graph import _pagerank_round

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    b = li.select(
        F.col("l_partkey").cast("long").alias("src"),
        (F.col("l_suppkey") + 1_000_000).cast("long").alias("dst"),
    ).distinct()
    e = b.unionAll(b.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("__deg"))
    ej = e.join(deg, "src")
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
        .select(
            "node", F.lit(150000).cast("long").alias("__base"),
            F.lit(1_000_000).cast("long").alias("__init"),
        )
    )
    ranks = nodes.select("node", F.col("__init").alias("rank_micro"))
    with C.scale_planner(spark):
        rnd = _pagerank_round(ej, ranks, nodes)
        assert C.broadcasts_for_query("__pagerank_round__", rnd) == []
        plan = C.simple_plan(rnd)
    assert "Window" not in plan
    assert "partial_sum" in plan  # the contribution sum combines map-side
    assert not C.data_sized_partitionless_windows(rnd)
