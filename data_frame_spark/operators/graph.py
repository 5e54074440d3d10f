"""Distributed connected components for near-duplicate clustering.

A corpus-dedup pipeline ends by collapsing verified near-dup PAIRS
into CLUSTERS (one kept representative per component). The reference
has no graph operator (its dedup story stops at pairwise filtering);
this is a net-new scale component, following the public alternating
large-star / small-star algorithm (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14):

* **large-star**: every node points its LARGER neighbors at the
  minimum of its neighborhood (including itself).
* **small-star**: every node points its smaller-or-equal neighbors
  at the minimum of its neighborhood.

Alternating the two converges in O(log n) rounds to a star per
component centered on the component's minimum vertex — crucially
NOT O(diameter) like naive min-label propagation, so a pathological
chain of overlapping near-dups (sliding-window shingles of one
template family) cannot force thousands of rounds.

Each round is two vertex-keyed shuffles (the groupBys); edges are
lazily ``localCheckpoint``-ed per round so the iterative lineage
never re-executes upstream rounds, and the convergence signature
aggregate doubles as the job that materializes the checkpoint — one
Spark job per round of driver latency, plus one exact anti-join when
the signature reports a fixpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Linear-growth iterative loops (pagerank, label_propagation — each
#: round references the previous state exactly ONCE, so the chained
#: plan grows linearly) skip per-round checkpoints and only truncate
#: lineage every this-many rounds: a localCheckpoint under AQE is not
#: free even when lazy (creating the RDD materializes every upstream
#: shuffle stage as its own job — a driver barrier per round), while
#: a pure chain lets ONE materializing action schedule all rounds
#: (r18 A/B, sf0.1 min-of-3 interleaved: chain 3.75 s / 21 jobs vs
#: per-round lazy 4.58 s / 25 jobs vs per-round eager 9.8 s / 30
#: jobs; outputs bit-identical). Rounds that reference the previous
#: state 2-3× (BFS/SSSP min-merge, k-core peel) grow exponentially
#: without truncation and keep their per-round lazy checkpoints.
_TRUNCATE_EVERY = 8

#: Branching iterative loops (BFS min-merge, SSSP relaxation — each
#: round references the previous state exactly TWICE: once through
#: the edge join, once through the min-merge union) ALSO chain
#: without per-round checkpoints, truncating only every this-many
#: rounds. The doubled references do NOT double execution: the two
#: consumers of round k-1 read the SAME aggregate exchange, and
#: AQE's exchange/stage reuse materializes it once — measured via
#: the UI stage store at sf0.1 (4-round SSSP: chain 99 tasks /
#: 9.7 MB shuffle write vs per-round ckpt 111 tasks / 10.9 MB;
#: chain min 2.55 s vs 4.44 s; outputs bit-identical; BFS 3-hop:
#: chain 45 tasks / 0.4 MB vs 38-61 tasks / 0.6-5.9 MB, 1.4-2.4 s
#: vs 2.2-4.9 s). Plan SIZE still grows ~2^k between truncations, so
#: the interval is shorter than _TRUNCATE_EVERY: ≤2^4 = 16 leaf
#: copies keeps analysis/optimization cheap. Rounds that reference
#: the previous state THREE times (k-core's degree-union + semi-join)
#: measured WORSE chained even at interval 2 (3^k plan copies put
#: Catalyst analysis on the critical path: full 4-round chain 9.4-
#: 13.2 s vs per-round ckpt 1.9-6.8 s warm/cold) — k_core keeps its
#: per-round lazy checkpoints.
_TRUNCATE_EVERY_BRANCHING = 4


def _star(edges: DataFrame, large: bool) -> DataFrame:
    """One star round over an undirected edge list (u, v).

    Neighborhoods come from both orientations; with
    m(n) = min(N(n) + {n}), large-star links {w in N(n) : w > n} -> m,
    small-star links {w in N(n) : w <= n} + {n} -> m, dropping
    self-loops. Output is again an undirected edge list.

    Deliberately NOT a collect_set formulation: a component root's
    neighborhood is the whole component, and materializing it as one
    array is the skew that kills web-scale dedup graphs. m(n) is a
    map-combinable MIN aggregate; members then pick up m via an
    equi-join on n (AQE splits any hot vertex).

    The pickup join pins SHUFFLE_HASH on the mins side (guide §3.1):
    mins is VERTEX-sized — data-sized at corpus scale — yet the
    per-round checkpoint boundary preserves the upstream (pair
    estimate) stats, so the planner broadcast-elects it (the r19
    sf10 probe demonstrated the class on the sibling shingle
    relation: a ~GB broadcast election that kills the driver). The
    hint also makes the documented "AQE splits any hot vertex" claim
    true by construction — skew-split applies to shuffled joins
    only, never to a broadcast.
    """
    both = edges.select(
        F.col("u").alias("n"), F.col("v").alias("w")
    ).unionAll(edges.select(F.col("v").alias("n"), F.col("u").alias("w")))
    mins = (
        both.groupBy("n")
        .agg(F.min("w").alias("mn"))
        .select("n", F.least(F.col("mn"), F.col("n")).alias("m"))
    )
    j = both.join(mins.hint("shuffle_hash"), "n")
    if large:
        out = j.where(F.col("w") > F.col("n")).select(
            F.col("w").alias("u"), F.col("m").alias("v")
        )
    else:
        out = j.where(F.col("w") <= F.col("n")).select(
            F.col("w").alias("u"), F.col("m").alias("v")
        ).unionAll(mins.select(F.col("n").alias("u"), F.col("m").alias("v")))
    return out.where(F.col("u") != F.col("v")).distinct()


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_rounds: int = 50,
) -> DataFrame:
    """Collapse an undirected edge list into components.

    Returns (id, component) for every vertex that appears in an
    edge, where ``component`` is the minimum vertex id reachable
    from ``id`` (the canonical cluster representative).

    Per alternating round: two shuffles keyed by vertex, edge count
    monotonically bounded by the input edge count, O(log n) rounds.
    Convergence: after small-star the edge set is a star forest iff
    every remaining edge already points at its component minimum,
    which large-star then leaves unchanged — detected by an
    edge-set-equality count, one aggregate per round.
    """
    # canonicalize to (larger, smaller): star rounds always emit
    # member -> root with member > root, so an input that is already
    # a star forest is recognized as the fixpoint on the FIRST
    # comparison (pair-only graphs — the common near-dup shape —
    # converge in one round instead of two)
    a, b = F.col(src).cast("long"), F.col(dst).cast("long")
    # a non-castable id silently becomes NULL and would be dropped by
    # the u != v filter, returning partial clusters — surface misuse
    # as an error instead. The check is FOLDED into the canonicalizing
    # expression (raise_error fires inside the edge-materialization
    # job), so validity costs ZERO extra jobs and zero extra scans of
    # the upstream pair pipeline — round 5 spent one full probe job
    # (limit(1).count()) on it, ~10% of the query's driver latency.
    _BAD_MSG = (
        f"connected_components: {src}/{dst} contain ids that do not "
        "cast to long; use orderable numeric ids or pre-map them"
    )
    bad = (F.col(src).isNotNull() & a.isNull()) | (
        F.col(dst).isNotNull() & b.isNull()
    )
    try:
        edges = (
            pairs.select(
                F.when(bad, F.raise_error(F.lit(_BAD_MSG)).cast("long"))
                .otherwise(F.greatest(a, b))
                .alias("u"),
                F.least(a, b).alias("v"),
            )
            .where(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=False)
        )
    except Exception as e:  # surface the folded id-validity check
        if "do not cast to long" in str(e):
            raise ValueError(_BAD_MSG) from None
        raise
    def _sig(df):
        # (count, order-insensitive XOR of per-edge hashes): one tiny
        # aggregate; both sets are distinct, so differing sets with
        # equal signatures require an engineered xxhash64 XOR
        # collision — and equality is still CONFIRMED exactly below.
        # The checkpoint above is LAZY, so this aggregate is the job
        # that materializes it: signature + checkpoint cost ONE Spark
        # job per round, not two.
        r = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("u", "v")).alias("x"),
        ).collect()[0]
        return r["n"], r["x"]

    try:
        sig_old = _sig(edges)  # materializes the edges checkpoint
    except Exception as e:  # surface the folded id-validity check
        if "do not cast to long" in str(e):
            raise ValueError(_BAD_MSG) from None
        raise
    converged = False
    for _ in range(max_rounds):
        # the mid-round checkpoint is load-bearing: a star's output
        # feeds THREE branches of the next star (both orientations +
        # the mins union), and without a persist boundary the physical
        # plan replicates the whole first-star pipeline per branch
        # (measured: 38 exchanges/round collapse to 10)
        mid = _star(edges, large=True).localCheckpoint(eager=False)
        stepped = _star(mid, large=False).localCheckpoint(eager=False)
        # star fixpoint test: identical edge sets. The signature gate
        # skips the exact anti-join on every round where the sets
        # visibly differ; when signatures match, the anti-join
        # certifies true equality (exactness does not rest on the
        # checksum).
        sig_new = _sig(stepped)
        unchanged = (
            sig_old == sig_new
            # shuffle_hash: both sides are edge-set-sized (data-sized
            # at scale); never let the planner broadcast-elect one
            # from checkpoint-preserved estimates (guide §3.1)
            and stepped.join(
                edges.hint("shuffle_hash"), ["u", "v"], "left_anti"
            ).limit(1).count() == 0
        )
        # drop per-round state no longer referenced: without this the
        # persisted edge sets of every round pile up in executor
        # memory for the life of the query
        mid.unpersist()
        edges.unpersist()
        edges, sig_old = stepped, sig_new
        if unchanged:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not reach the star-forest fixpoint "
            f"within max_rounds={max_rounds} alternating rounds; the "
            f"component labels would be wrong — raise max_rounds "
            f"(O(log n) rounds suffice for n vertices)"
        )
    # star forest: every edge is (member, root); roots also belong to
    # their own component
    return edges.select(F.col("u").alias("id"), F.col("v").alias("component")).unionAll(
        edges.select(F.col("v").alias("id"), F.col("v").alias("component"))
    ).groupBy("id").agg(F.min("component").alias("component"))


def cluster_documents(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Near-dup clusters from verified pairs: (id, cluster_id,
    cluster_size), cluster_id = min doc id of the component. A
    dedup pipeline keeps ``id == cluster_id`` rows and drops the
    rest (cluster_size - 1 removals per cluster)."""
    cc = connected_components(pairs, src, dst)
    sizes = cc.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    # shuffle_hash: sizes is component-sized (data-sized at corpus
    # scale) and cc rides a checkpoint whose preserved estimate reads
    # tiny — never broadcast-elect either side (guide §3.1)
    return cc.join(sizes.hint("shuffle_hash"), "component").select(
        F.col("id"), F.col("component").alias("cluster_id"), "cluster_size"
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    src_col: str = "src",
    dst_col: str = "dst",
    seeds: DataFrame | None = None,
    seed_col: str = "node",
) -> DataFrame:
    """Integer-exact PageRank (power iteration, damping 0.85): ranks
    are LONGS in micro units (init 1.0 = 1_000_000 per node; the
    ranks-sum-to-N convention), each round distributing
    ``rank_micro div out_degree`` along every edge and recombining as
    ``0.15 + 0.85 * Σcontrib`` in pure integer arithmetic —
    ``150000 + (85 * Σ) div 100``. All-integer math makes the result
    bit-identical under ANY partitioning/summation order (the same
    exactness contract as the integer-Lloyd fits); floor division
    leaks ≤1 micro per edge per round, a deliberate determinism/
    precision trade documented here. Dangling nodes (no out-edges)
    keep only their 0.15 base — the standard simple formulation; add
    a dangling-mass redistribution upstream if required. Parallel
    edges contribute once each (pre-``distinct`` upstream to change
    that). No reference twin: net-new graph analytics alongside
    :func:`connected_components`.

    ``seeds`` switches to PERSONALIZED PageRank (seed-restart):
    initial mass 1.0 (= 1_000_000 micro) on seed nodes only, and the
    0.15 restart base paid only to seeds — relevance-from-here for
    recommendations / provenance blast-radius, vs the global
    centrality of the classic form. Same integer arithmetic, same
    exactness contract; the seed indicator is attached to the node
    table ONCE (a setup-time left join, never per-iteration).

    Scale shape: out-degrees join the edge list ONCE (one shuffle,
    checkpointed); each round is one ranks⋈edges shuffle on the
    source key, one map-combinable groupBy-sum on the destination,
    and one vertex-keyed nodes⋈contribs left join restoring
    contribution-less nodes — O(iterations) rounds of vertex-keyed
    exchanges. Since round 18 the rounds CHAIN unchecked into the
    caller's one materializing action (each round references the
    previous ranks exactly once, so the chained plan grows linearly);
    lineage is truncated by a lazy ``localCheckpoint`` only every
    ``_TRUNCATE_EVERY`` rounds — see the module constant for the
    measured A/B (chain 3.75 s / 21 jobs vs per-round lazy 4.58 s /
    25 jobs vs per-round eager 9.8 s / 30 jobs; outputs
    bit-identical).
    """
    if iterations < 0:
        raise ValueError("pagerank iterations must be >= 0")
    e = edges.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
    ).where(F.col("src").isNotNull() & F.col("dst").isNotNull())
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("__deg"))
    ej = e.join(deg, "src").localCheckpoint(eager=False)
    if seeds is None:
        nodes = nodes.select(
            "node", F.lit(150000).cast("long").alias("__base"),
            F.lit(1_000_000).cast("long").alias("__init"),
        )
    else:
        sd = (
            seeds.select(F.col(seed_col).cast("long").alias("node"))
            .where(F.col("node").isNotNull())
            .distinct()
            .select("node", F.lit(True).alias("__is_seed"))
        )
        # edge-less seeds stay in the node table (union, not just a
        # join onto edge endpoints): a seed with no edges keeps its
        # restart mass and appears in the output instead of silently
        # vanishing (round-14 review). F.when treats a NULL condition
        # as false, so the bare indicator suffices.
        nodes = (
            nodes.unionByName(sd.select("node")).distinct()
            .join(sd, "node", "left")
            .select(
                "node",
                F.when(F.col("__is_seed"), F.lit(150000)).otherwise(F.lit(0))
                .cast("long").alias("__base"),
                F.when(F.col("__is_seed"), F.lit(1_000_000)).otherwise(F.lit(0))
                .cast("long").alias("__init"),
            )
        )
    nodes = nodes.localCheckpoint(eager=False)
    ranks = nodes.select("node", F.col("__init").alias("rank_micro"))
    # contribution-less nodes keep only their restart base via a
    # per-iteration nodes⋈contribs LEFT join (coalesce(Σ, 0)). The
    # round-14 zero-contribution-union variant (one fewer shuffle per
    # iteration on paper) was A/B'd against this shape in one session
    # at sf0.1, min-of-3, bit-identical outputs: join 4.45 s vs union
    # 4.88 s on the part<->supplier fixture — the union's extra
    # aggregate volume (a zero row per node, plus the __b column
    # through every exchange) costs more than the saved join at this
    # density, so the join shape is kept (r15; docs/PLANS.md
    # §"Round-15 PageRank A/B"). The nodes side is a checkpointed
    # vertex table joined on its key — vertex-keyed, never a
    # data-sized broadcast under the scale planner.
    for i in range(iterations):
        ranks = _pagerank_round(ej, ranks, nodes)
        if (i + 1) % _TRUNCATE_EVERY == 0:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks


def _pagerank_round(ej: DataFrame, ranks: DataFrame, nodes: DataFrame) -> DataFrame:
    """One power iteration, PRE-checkpoint (exposed so the plan pin
    in tests/test_plans.py sees the round's own shape): the
    ranks⋈edges contribution shuffle, the map-combinable dst-sum,
    and the vertex-keyed nodes⋈contribs left join restoring
    contribution-less nodes' restart base."""
    contribs = (
        ej.join(ranks, ej["src"] == ranks["node"])
        .select(
            F.col("dst").alias("node"),
            F.expr("rank_micro div __deg").alias("__c"),
        )
        .groupBy("node")
        .agg(F.sum("__c").alias("__s"))
    )
    return nodes.join(contribs, "node", "left").select(
        "node",
        (F.col("__base") + F.expr("85 * coalesce(__s, 0) div 100"))
        .alias("rank_micro"),
    )


def triangle_count(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    prepared: bool = False,
) -> DataFrame:
    """Per-vertex triangle counts over an undirected edge list — the
    standard local-clustering signal (how interconnected a node's
    neighborhood is; in a near-dup graph, high triangle density marks
    template families rather than chance pairs). No reference twin:
    net-new graph analytics alongside :func:`connected_components`.

    Algorithm: the degree-ordered orientation (Cohen 2009 / Suri &
    Vassilvitskii 2011 "Counting Triangles and the Curse of the Last
    Reducer"). Every undirected edge is oriented from its LOWER-
    (degree, id) endpoint to its higher one, making the oriented
    out-neighborhood of any vertex O(sqrt(m)) even on a power-law
    graph; wedges are then built by self-joining oriented edges on
    their apex and closed by probing the oriented edge set. This is
    THE scale trick: the naive formulation joins the full
    neighborhood of every hub (the "last reducer" that gets the
    celebrity node), the oriented one provably bounds every join key.

    Exactness: counts are integers; dedup/orientation are pure
    equality logic — bit-identical on any engine and partitioning.

    Scale shape: one degree aggregate + three hash-partitioned
    equi-joins (apex join, closing-edge probe), every one
    map-combinable or AQE-splittable; no window, no collect, nothing
    driver-side. Output: (node, triangles) for every vertex of the
    input (vertices in no triangle report 0).

    ``prepared=True`` skips the undirected canonicalization
    (least/greatest fold, null/self-loop drop, distinct) for callers
    that already hold a distinct, non-null, long-typed ``(u, v)``
    edge list with ``u < v`` — the :func:`label_propagation`
    contract, added r19 so graph_suite's triangle and k-core facets
    share ONE canonicalized co-occurrence relation instead of each
    re-running the scan + self-join + distinct (guide §2.3).
    """
    und = _undirected_edges(edges, src_col, dst_col, prepared)
    oriented, _nodes = _oriented_edges(und)
    # checkpoint AFTER orientation: the degree-attach/orientation plan
    # shape itself is pinned on _oriented_edges in test_plans.py (the
    # post-checkpoint plan no longer shows it — round-13 review
    # finding)
    oriented = oriented.localCheckpoint(eager=True)
    # wedges: two oriented edges sharing an apex s -> (t1, t2), t1 < t2;
    # a triangle exists iff the (t1, t2) closing edge is oriented too
    e1 = oriented.select(F.col("s").alias("a"), F.col("t").alias("t1"))
    # SHUFFLE_HASH on the probe-side relations (r18, guide §3.1):
    # both joins are equi-joins between edge-shaped relations whose
    # per-partition build side is shuffle-partition-bounded (AQE
    # sizes/splits partitions), so the hash join skips sort-merge's
    # two per-partition sorts; interleaved min-of-3 A/B at sf0.1 won
    # every pair (2.10 s vs 2.24 s plus a 2x gap on cold runs),
    # outputs identical (join strategy never affects the counted
    # multiset).
    e2 = oriented.select(F.col("s").alias("a"), F.col("t").alias("t2")).hint(
        "shuffle_hash"
    )
    wedges = e1.join(e2, "a").where(F.col("t1") < F.col("t2"))
    # orientation is a bijection of the undirected edge set, so BOTH
    # the closing-edge set (u<v form) and the node set re-derive from
    # the CHECKPOINTED oriented frame — keeping any branch on `und` or
    # `_nodes` would re-run the edge distinct + degree aggregate a
    # second time at action time (round-13 advisory)
    closing = oriented.select(
        F.least("s", "t").alias("t1"), F.greatest("s", "t").alias("t2")
    ).hint("shuffle_hash")
    nodes = (
        oriented.select(F.col("s").alias("node"))
        .unionAll(oriented.select(F.col("t").alias("node")))
        .distinct()
    )
    tri = wedges.join(closing, ["t1", "t2"])
    per_node = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("t1").alias("node")))
        .unionAll(tri.select(F.col("t2").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    return nodes.join(per_node, "node", "left").select(
        "node", F.coalesce("triangles", F.lit(0).cast("long")).alias("triangles")
    )


def _undirected_edges(
    edges: DataFrame, src_col: str, dst_col: str, prepared: bool
) -> DataFrame:
    """``(u, v)`` with ``u < v``: each undirected edge once, long-typed,
    null endpoints and self-loops dropped. ``prepared`` edges already
    hold that form (:func:`triangle_count`, :func:`k_core`) and are
    only renamed."""
    if prepared:
        return edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
    a, b = F.col(src_col).cast("long"), F.col(dst_col).cast("long")
    return (
        edges.select(F.least(a, b).alias("u"), F.greatest(a, b).alias("v"))
        .where(F.col("u").isNotNull() & (F.col("u") != F.col("v")))
        .distinct()
    )


def _directed_edges(
    edges: DataFrame, src_col: str, dst_col: str, prepared: bool
) -> DataFrame:
    """``(src, dst)``: distinct, long-typed, non-null directed edges
    behind a lazy localCheckpoint. ``prepared`` edges already hold
    that form (:func:`label_propagation`, :func:`hop_distances`) and
    are only renamed."""
    if prepared:
        return edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
        )
    e = edges.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
    ).where(F.col("src").isNotNull() & F.col("dst").isNotNull()).distinct()
    return e.localCheckpoint(eager=False)


def _oriented_edges(und: DataFrame):
    """Degree-ordered orientation, PRE-checkpoint: attach endpoint
    degrees via two hash equi-joins and point each undirected (u < v)
    edge from its lower-(degree, id) endpoint to the higher one — the
    (degree, id) total order breaks degree ties. Returns
    ``(oriented (s, t), nodes)``; nodes is deg's grouping output (the
    exact distinct node set, no second endpoint distinct)."""
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("__d"))
    )
    nodes = deg.select("node")
    du = deg.select(F.col("node").alias("u"), F.col("__d").alias("__du"))
    dv = deg.select(F.col("node").alias("v"), F.col("__d").alias("__dv"))
    lo_first = und.join(du, "u").join(dv, "v")
    oriented = lo_first.select(
        F.when(
            (F.col("__du") < F.col("__dv"))
            | ((F.col("__du") == F.col("__dv")) & (F.col("u") < F.col("v"))),
            F.struct(F.col("u").alias("s"), F.col("v").alias("t")),
        )
        .otherwise(F.struct(F.col("v").alias("s"), F.col("u").alias("t")))
        .alias("e")
    ).select(F.col("e.s").alias("s"), F.col("e.t").alias("t"))
    return oriented, nodes


def label_propagation(
    edges: DataFrame,
    iterations: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
    prepared: bool = False,
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) with a
    DETERMINISTIC tie-break — community detection over an edge list
    (communities = densely connected groups, a different signal from
    :func:`connected_components`' pure reachability). No reference
    twin: net-new graph analytics.

    Every node starts labeled with its own id; each round every node
    adopts the most frequent label among its in-neighbors, ties
    broken toward the SMALLEST label — argmax over the integer pair
    (count DESC, label ASC), so the result after exactly
    ``iterations`` rounds is bit-identical on any engine and any
    partitioning (classic async LPA is run-order-dependent; the
    synchronous + total-order form is the reproducible variant, the
    same determinism stance as the integer-Lloyd fits). Supply both
    edge directions for undirected semantics (a node with no
    in-edges keeps its label).

    Scale shape per round: one labels⋈edges shuffle on the source
    key, then ONE destination-keyed vote exchange feeding both the
    (node, label) weight-sum and the per-node
    MAX(struct(count, -label)) argmax exchange-free (r19
    single-exchange round; see :func:`_lpa_round` for the trade) —
    never a row_number window over a hot label. Rounds chain unchecked into
    the caller's one materializing action (the pagerank stance —
    linear plan growth), with lineage truncated by a lazy
    localCheckpoint only every ``_TRUNCATE_EVERY`` rounds (r18
    optimization; see the module constant).

    ``prepared=True`` skips the canonicalization (cast / null-drop /
    distinct / checkpoint) for callers that already hold a distinct,
    non-null, long-typed, checkpointed (src, dst) edge list — the
    graph_suite family shares ONE such list across facets, and
    re-distincting a million-edge relation per facet was pure waste
    (round-14 profiling).
    """
    if iterations < 0:
        raise ValueError("label_propagation iterations must be >= 0")
    e = _directed_edges(edges, src_col, dst_col, prepared)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = nodes.select("node", F.col("node").alias("label"))
    for i in range(iterations):
        # periodic truncation only (_TRUNCATE_EVERY): the per-round
        # plan shape itself is pinned on _lpa_round in test_plans.py
        labels = _lpa_round(e, nodes, labels)
        if (i + 1) % _TRUNCATE_EVERY == 0:
            labels = labels.localCheckpoint(eager=False)
    return labels


def _lpa_round(e: DataFrame, nodes: DataFrame, labels: DataFrame) -> DataFrame:
    """One synchronous LPA round, PRE-checkpoint: labels⋈edges on the
    source key, then ONE vote exchange keyed by destination feeding
    both vote aggregates exchange-free (never a row_number window
    over a potentially hot label). Keep-own-label is a ZERO-WEIGHT
    SELF-VOTE unioned into the vote stream, not a left join: any
    real vote (weight sum >= 1) beats (0, -own), a voteless node
    wins its own label — identical semantics, no nodes⋈best exchange
    (round-14 profiling).

    r19 single-exchange shape (guide §2.1/§2.2): the raw weighted
    votes (real = 1, self = 0) union FIRST, then ONE
    ``repartition(dst)`` exchange; HashPartitioning(dst) satisfies
    the clustering requirement of BOTH the (dst, label) weight-sum
    AND the per-dst MAX(struct(count, -label)) argmax, so the two
    aggregates run with zero further exchanges — per round the old
    (dst, label)-keyed count exchange AND the dst-keyed argmax
    exchange collapse into one (plan: hashpartitioning(dst, label)
    gone; A/B at sf0.1, bit-identical labels: 5.02 -> 2.75 s min-of-3
    on the suite fixture). Deliberate trade, documented: the raw
    vote exchange forgoes map-side combining (two narrow long
    columns per edge, exactly once), where the old first exchange
    combined duplicate (dst, label) votes map-side — at any scale
    the bytes are bounded by |E| + |V| either way, and one shuffle
    barrier replaces two. The weight-sum equals the old count
    exactly: each real vote contributes 1, the self-vote 0, and
    merging the self-vote row into a real (dst, own-label) group
    cannot change the argmax winner (both forms rank it by the same
    real-vote count)."""
    votes = (
        e.join(labels, e["src"] == labels["node"])
        .select(F.col("dst"), F.col("label"), F.lit(1).cast("long").alias("__c"))
    )
    self_votes = nodes.select(
        F.col("node").alias("dst"),
        F.col("node").alias("label"),
        F.lit(0).cast("long").alias("__c"),
    )
    return (
        votes.unionByName(self_votes)
        .repartition(F.col("dst"))
        .groupBy("dst", "label")
        .agg(F.sum("__c").alias("__c"))
        .groupBy("dst")
        .agg(F.max(F.struct(F.col("__c"), (-F.col("label")).alias("__nl"))).alias("__m"))
        .select(F.col("dst").alias("node"), (-F.col("__m.__nl")).alias("label"))
    )


def hop_distances(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "node",
    prepared: bool = False,
) -> DataFrame:
    """Multi-source BFS: the minimum hop distance from ANY seed to
    every reachable node, bounded at ``max_hops`` — the provenance /
    blast-radius primitive (how far does a contaminated document's
    influence reach through a similarity graph; which suppliers sit
    within k hops of a recalled part). No reference twin: net-new
    graph analytics completing the suite (components = reachability,
    pagerank = centrality, LPA = communities, triangles = local
    density, BFS = distance).

    Semantics: seeds are distance 0; each round relaxes one hop of
    the min-plus recurrence dist(v) = min(dist(v), 1 + min over
    in-neighbors u of dist(u)). Supply both edge directions for
    undirected semantics. Output: (node, hops) for every node reached
    within ``max_hops`` — unreachable nodes emit NO row (callers
    left-join if they want NULLs). Pure integer mins — bit-identical
    on any engine and partitioning.

    Scale shape per round: ONE dists⋈edges equi-join on the source
    key, then ONE fused map-combinable MIN over the union of the
    relaxed hops and the running distance table (r19: min of mins ==
    min over the union, halving the per-round exchanges) —
    vertex-keyed exchanges only. Rounds CHAIN into the caller's one
    materializing action, truncated only every
    ``_TRUNCATE_EVERY_BRANCHING`` rounds (r18: the two references to
    the previous round read ONE reused exchange under AQE — see the
    module constant for the measured task/shuffle evidence; the
    per-round plan shape is pinned pre-checkpoint on
    :func:`_relax_round` in test_plans.py). The
    frontier is implicit (the whole dist table relaxes each round —
    at a bounded hop count the simplicity beats frontier bookkeeping;
    a diameter-scale traversal would want delta-stepping instead).

    ``prepared=True``: same contract as
    :func:`label_propagation` — the caller holds a distinct,
    non-null, long-typed, checkpointed edge list; skip
    re-canonicalizing it (round-14 profiling).
    """
    if max_hops < 0:
        raise ValueError("hop_distances max_hops must be >= 0")
    e = _directed_edges(edges, src_col, dst_col, prepared)
    dists = (
        seeds.select(F.col(seed_col).cast("long").alias("node"))
        .where(F.col("node").isNotNull())
        .distinct()
        .select("node", F.lit(0).cast("long").alias("hops"))
    )
    dists = dists.localCheckpoint(eager=False)
    for i in range(max_hops):
        dists = _relax_round(e, dists, "hops", F.lit(1))
        if (i + 1) % _TRUNCATE_EVERY_BRANCHING == 0 and (i + 1) < max_hops:
            dists = dists.localCheckpoint(eager=False)
    return dists


def _relax_round(e: DataFrame, dists: DataFrame, col: str, step) -> DataFrame:
    """One min-plus relaxation, PRE-checkpoint: each reached source's
    ``col`` plus ``step`` (a Column over the edge row: ``F.lit(1)`` for
    hops, ``F.col("w")`` for weights) propagates to its destination and
    min-merges with the running table in ONE map-combinable MIN
    aggregate over the union (no window, no driver). min(min(relaxed),
    dists) == min(relaxed ∪ dists), so partial MIN aggregation combines
    map-side above both union branches: one exchange per round."""
    relaxed = (
        e.join(dists, e["src"] == dists["node"])
        .select(F.col("dst").alias("node"), (F.col(col) + step).alias(col))
    )
    return (
        dists.unionByName(relaxed)
        .groupBy("node")
        .agg(F.min(col).alias(col))
    )


def k_core(
    edges: DataFrame,
    k: int,
    rounds: int | None = 4,
    src_col: str = "src",
    dst_col: str = "dst",
    prepared: bool = False,
) -> DataFrame:
    """Bounded k-core peeling over an undirected edge list — the
    density-tier primitive (which nodes survive k rounds of "drop
    everything with fewer than k neighbors": in a near-dup graph the
    deep cores are the template families worth special-casing, the
    shell is incidental overlap). No reference twin: net-new graph
    analytics alongside :func:`triangle_count`.

    Semantics: exactly ``rounds`` synchronous peels — each round
    computes degrees over the REMAINING subgraph and deletes every
    node with degree < k (with its incident edges). The fixed round
    count (not run-to-convergence) is the oracle contract: peeling is
    idempotent once stable, so extra rounds are no-ops, and the
    result after exactly N rounds is bit-identical on any engine and
    partitioning (pure integer counts + equality logic — the LPA/BFS
    determinism stance). ``rounds=None`` peels to convergence instead
    (the TRUE k-core): edge counts shrink monotonically, so the
    count-equality fixpoint test is exact and costs one tiny
    aggregate per round that doubles as the checkpoint job — use it
    when the caller needs the invariant rather than the replayable
    round count. Output: (node, degree) for
    every surviving node, degree measured within the surviving
    subgraph.

    Scale shape per round: one map-combinable endpoint-degree
    aggregate plus two vertex-keyed LEFT SEMI equi-joins (u-side,
    v-side) — never a collected node set, never a window; AQE splits
    any hot key. Rounds lazily localCheckpoint (the pagerank
    stance, r18: truncation without per-round driver barriers); the
    per-round plan is pinned pre-checkpoint on
    :func:`_kcore_round` in test_plans.py. The edge set shrinks
    monotonically, so per-round cost is bounded by the first round's.
    """
    if k < 0:
        raise ValueError("k_core k must be >= 0")
    if rounds is not None and rounds < 0:
        raise ValueError("k_core rounds must be >= 0 (or None for to-convergence)")
    # prepared: the triangle_count contract (r19) — the caller holds a
    # distinct, non-null, long-typed u < v edge list, already
    # checkpointed; graph_suite shares ONE canonicalized co-occurrence
    # relation across its triangle and k-core facets (guide §2.3)
    und = _undirected_edges(edges, src_col, dst_col, prepared)
    if not prepared:
        und = und.localCheckpoint(eager=False)
    if rounds is not None:
        for _ in range(rounds):
            und = _kcore_round(und, k).localCheckpoint(eager=False)
        return _endpoint_degrees(und)
    # rounds=None: the TRUE k-core — peel until a round deletes
    # nothing. Edge counts are monotonically non-increasing, so
    # count-equality IS set-equality here (no signature needed, unlike
    # the connected_components fixpoint whose edge sets can churn at
    # constant size); one tiny count aggregate per round, and it
    # doubles as the job that materializes the round's checkpoint.
    n_old = und.count()
    while True:
        # LAZY checkpoint + count: the count IS the job that
        # materializes the round (an eager checkpoint would launch its
        # own job and make the count a redundant second one per round
        # — round-14 review)
        stepped = _kcore_round(und, k).localCheckpoint(eager=False)
        n_new = stepped.count()
        # no per-round unpersist: DataFrame.unpersist is a no-op for
        # localCheckpoint'd frames (checkpoint RDD blocks are released
        # by the ContextCleaner when the old frame is GC'd — r14
        # advice); rebinding `und` drops the only reference
        und = stepped
        if n_new == n_old:
            return _endpoint_degrees(und)
        n_old = n_new


def _kcore_round(und: DataFrame, k: int) -> DataFrame:
    """One synchronous peel, PRE-checkpoint: degrees over the current
    undirected (u < v) edge set, keep-set of nodes with degree >= k,
    and two LEFT SEMI joins restricting edges to kept endpoints."""
    keep = _endpoint_degrees(und).where(F.col("degree") >= k).select("node")
    return (
        und.join(keep.withColumnRenamed("node", "u"), "u", "left_semi")
        .join(keep.withColumnRenamed("node", "v"), "v", "left_semi")
        .select("u", "v")
    )


def _endpoint_degrees(und: DataFrame) -> DataFrame:
    """(node, degree) over an undirected (u < v) edge list — one
    map-combinable aggregate over both endpoint projections."""
    return (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )


def shortest_paths(
    edges: DataFrame,
    seeds: DataFrame,
    max_rounds: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
    seed_col: str = "node",
) -> DataFrame:
    """Multi-source WEIGHTED shortest paths, bounded Bellman-Ford —
    the cost-aware sibling of :func:`hop_distances` (hops answer "how
    far", weights answer "how expensive": cheapest supplier route,
    lowest-friction provenance chain). No reference twin: net-new
    graph analytics completing the suite.

    Semantics: seeds are distance 0; each round relaxes one edge of
    the min-plus recurrence dist(v) = min(dist(v), min over
    in-neighbors u of dist(u) + w(u, v)). After ``max_rounds`` rounds
    (chained, truncated every ``_TRUNCATE_EVERY_BRANCHING`` — r18)
    every node holds its cheapest cost over paths of <= max_rounds
    edges (the full shortest path once max_rounds >= the shortest
    path's hop count; Bellman-Ford needs |V|-1 rounds in the worst
    case — callers bound it for the same reasons k_core bounds its
    peel). Weights must be non-negative longs (micro-quantize money
    upstream); pure integer min-plus — bit-identical on any engine
    and partitioning. Unreachable nodes emit no row.

    Scale shape per round: ONE dists⋈edges equi-join on the source
    key + ONE fused map-combinable MIN over the union of relaxed
    costs and the running table — identical exchanges to
    :func:`hop_distances` (the
    weight rides the edge row); rounds CHAIN into the caller's one
    materializing action, truncated only every
    ``_TRUNCATE_EVERY_BRANCHING`` rounds (r18; see the module
    constant — the edge table alone stays EAGER so the folded
    negative-weight raise_error fires inside the constructor's try
    block);
    the per-round plan is pinned pre-checkpoint on
    :func:`_relax_round` in test_plans.py. ``prepared=True``-style
    canonicalization is NOT skipped here: weights arrive from
    arbitrary aggregates, so the cast/null-drop is load-bearing.
    """
    if max_rounds < 0:
        raise ValueError("shortest_paths max_rounds must be >= 0")
    # the non-negative-weight contract is ENFORCED, not just stated: a
    # negative weight makes bounded min-plus return walk costs, not
    # distances. Folded into the canonicalizing expression (the
    # connected_components raise_error recipe) so the check rides the
    # edge-materialization job — zero extra jobs, zero extra scans.
    _NEG_MSG = (
        f"shortest_paths: {weight_col} contains negative weights; "
        "min-plus distances require non-negative edge costs"
    )
    w = F.col(weight_col).cast("long")
    try:
        e = (
            edges.select(
                F.col(src_col).cast("long").alias("src"),
                F.col(dst_col).cast("long").alias("dst"),
                F.when(w < 0, F.raise_error(F.lit(_NEG_MSG)).cast("long"))
                .otherwise(w)
                .alias("w"),
            )
            .where(
                F.col("src").isNotNull()
                & F.col("dst").isNotNull()
                & F.col("w").isNotNull()
            )
            .localCheckpoint(eager=True)
        )
    except Exception as exc:  # surface the folded weight check
        if "negative weights" in str(exc):
            raise ValueError(_NEG_MSG) from None
        raise
    dists = (
        seeds.select(F.col(seed_col).cast("long").alias("node"))
        .where(F.col("node").isNotNull())
        .distinct()
        .select("node", F.lit(0).cast("long").alias("dist"))
        .localCheckpoint(eager=False)
    )
    for i in range(max_rounds):
        dists = _relax_round(e, dists, "dist", F.col("w"))
        if (i + 1) % _TRUNCATE_EVERY_BRANCHING == 0 and (i + 1) < max_rounds:
            dists = dists.localCheckpoint(eager=False)
    return dists
