"""Connected components (alternating large/small-star) vs a
sequential union-find brute force."""

from __future__ import annotations

import random

from hypothesis import given, settings, strategies as st

from data_frame_spark.operators.graph import connected_components, cluster_documents


def _uf_components(edges, n_hint=0):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        if u == v:
            continue  # self-loops carry no connectivity (dropped by the operator)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    # canonical rep = min vertex of the component
    comp = {}
    for x in list(parent):
        root = find(x)
        comp.setdefault(root, []).append(x)
    out = {}
    for members in comp.values():
        m = min(members)
        for x in members:
            out[x] = m
    return out


def _run(spark, edges):
    df = spark.createDataFrame(
        [(int(u), int(v)) for u, v in edges], "id_a long, id_b long"
    )
    got = {
        r["id"]: r["component"]
        for r in connected_components(df).collect()
    }
    want = _uf_components(edges)
    assert got == want


def test_cc_two_triangles_bridge(spark):
    _run(spark, [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (3, 10), (20, 21)])


def test_cc_long_chain_converges_fast(spark):
    # a 64-node path: naive min-label needs 63 rounds; alternating
    # stars must finish within max_rounds=12 (O(log n))
    edges = [(i, i + 1) for i in range(64)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["id"]: r["component"] for r in
           connected_components(df, max_rounds=12).collect()}
    assert got == {i: 0 for i in range(65)}


def test_cc_self_loops_and_duplicates(spark):
    _run(spark, [(5, 5), (1, 2), (2, 1), (1, 2), (7, 3)])


@settings(max_examples=15, deadline=None, derandomize=True)
@given(st.integers(0, 10_000))
def test_cc_random_graphs_match_union_find(spark, seed):
    rng = random.Random(seed)
    n = rng.randint(2, 40)
    m = rng.randint(1, 60)
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
    edges = [(u, v) for u, v in edges if u != v] or [(0, 1)]
    _run(spark, edges)


def test_cluster_documents_sizes(spark):
    df = spark.createDataFrame(
        [(1, 2), (2, 3), (8, 9), (4, 5)], "id_a long, id_b long"
    )
    rows = {(r["id"], r["cluster_id"], r["cluster_size"])
            for r in cluster_documents(df).collect()}
    assert rows == {
        (1, 1, 3), (2, 1, 3), (3, 1, 3),
        (8, 8, 2), (9, 8, 2),
        (4, 4, 2), (5, 4, 2),
    }


def test_cc_empty_edge_list(spark):
    df = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(df).collect() == []
    assert cluster_documents(df).collect() == []


def test_cc_raises_on_uncastable_ids(spark):
    import pytest

    df = spark.createDataFrame(
        [("1", "2"), ("3", "not-a-number")], ["id_a", "id_b"]
    )
    with pytest.raises(ValueError, match="do not cast to long"):
        connected_components(df)


def test_cc_null_ids_dropped_not_raised(spark):
    # genuinely-null ids (not cast failures) keep the old drop
    # semantics — only the (1,2) edge remains
    df = spark.createDataFrame(
        [(1, 2), (None, 5)], "id_a long, id_b long"
    )
    got = {(r["id"], r["component"]) for r in connected_components(df).collect()}
    assert got == {(1, 1), (2, 1)}


def _brute_pagerank(edges, iterations):
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    deg = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    rank = {n: 1_000_000 for n in nodes}
    for _ in range(iterations):
        sums = {n: 0 for n in nodes}
        for s, d in edges:
            sums[d] += rank[s] // deg[s]
        rank = {n: 150000 + (85 * sums[n]) // 100 for n in nodes}
    return rank


def test_pagerank_matches_integer_reference_and_layout(spark):
    import random

    import pytest

    from data_frame_spark.operators.graph import pagerank

    rng = random.Random(21)
    edges = list({(rng.randrange(12), rng.randrange(12)) for _ in range(40)})
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["rank_micro"] for r in pagerank(df, iterations=6).collect()}
    assert got == _brute_pagerank(edges, 6)
    # integer arithmetic => bit-identical under any partitioning
    got7 = {
        r["node"]: r["rank_micro"]
        for r in pagerank(df.repartition(7), iterations=6).collect()
    }
    assert got7 == got
    # a hub receiving everything outranks a leaf; iterations=0 is init
    star = spark.createDataFrame(
        [(i, 0) for i in range(1, 6)], "src long, dst long"
    )
    ranks = {r["node"]: r["rank_micro"] for r in pagerank(star, iterations=3).collect()}
    assert ranks[0] > ranks[1] == ranks[5]
    init = {r["node"]: r["rank_micro"] for r in pagerank(star, iterations=0).collect()}
    assert set(init.values()) == {1_000_000}
    with pytest.raises(ValueError):
        pagerank(star, iterations=-1)


def _brute_triangles(edges):
    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    nodes = {n for e in und for n in e}
    adj = {n: set() for n in nodes}
    for u, v in und:
        adj[u].add(v)
        adj[v].add(u)
    counts = {n: 0 for n in nodes}
    for u, v in und:
        for w in adj[u] & adj[v]:
            # iterating edges, the triangle {u, v, w} increments its
            # third corner w exactly once per OWN edge — so summed
            # over all edges every node gets exactly its triangle count
            counts[w] += 1
    return counts


def test_triangle_count_matches_brute_force_and_layout(spark):
    import random

    rng = random.Random(7)
    edges = list({(rng.randrange(14), rng.randrange(14)) for _ in range(45)})
    df = spark.createDataFrame(edges, "src long, dst long")
    from data_frame_spark.operators.graph import triangle_count

    got = {r["node"]: r["triangles"] for r in triangle_count(df).collect()}
    assert got == _brute_triangles(edges)
    got5 = {
        r["node"]: r["triangles"]
        for r in triangle_count(df.repartition(5)).collect()
    }
    assert got5 == got  # pure integer logic: layout-independent
    # a 4-clique: every node in C(3,2)=3 triangles; pendant in none
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)] + [(0, 9)]
    kdf = spark.createDataFrame(k4, "src long, dst long")
    kt = {r["node"]: r["triangles"] for r in triangle_count(kdf).collect()}
    assert kt == {0: 3, 1: 3, 2: 3, 3: 3, 9: 0}


def test_label_propagation_semantics_and_layout(spark):
    import pytest

    from data_frame_spark.operators.graph import label_propagation

    # two 3-cliques joined by one bridge edge: after enough rounds the
    # min label of each clique wins locally; labels are deterministic
    cl = [(0, 1), (1, 2), (0, 2), (10, 11), (11, 12), (10, 12), (2, 10)]
    und = cl + [(b, a) for a, b in cl]
    df = spark.createDataFrame(und, "src long, dst long")
    got = {r["node"]: r["label"] for r in label_propagation(df, iterations=4).collect()}
    # clique {0,1,2} settles on its minimum
    assert got[0] == got[1] == got[2] == 0
    # 11 and 12 are structurally interchangeable (both see {10, twin}),
    # so the synchronous deterministic rounds must label them alike
    assert got[12] == got[11]
    # layout independence (synchronous + deterministic tie-break)
    got9 = {
        r["node"]: r["label"]
        for r in label_propagation(df.repartition(9), iterations=4).collect()
    }
    assert got9 == got
    # iterations=0 = identity labeling; no in-edges keeps own label
    one_way = spark.createDataFrame([(1, 2)], "src long, dst long")
    init = {r["node"]: r["label"] for r in label_propagation(one_way, iterations=2).collect()}
    assert init[1] == 1 and init[2] == 1
    zero = {r["node"]: r["label"] for r in label_propagation(df, iterations=0).collect()}
    assert all(n == l for n, l in zero.items())
    with pytest.raises(ValueError):
        label_propagation(df, iterations=-1)


def test_hop_distances_matches_brute_force_and_layout(spark):
    from collections import deque

    import pytest

    from data_frame_spark.operators.graph import hop_distances

    rng = random.Random(11)
    directed = list({(rng.randrange(15), rng.randrange(15)) for _ in range(40)})
    seeds = [0, 7]

    def brute(max_hops):
        adj = {}
        for u, v in directed:
            adj.setdefault(u, set()).add(v)
        dist = {s: 0 for s in seeds}
        q = deque(seeds)
        while q:
            u = q.popleft()
            if dist[u] >= max_hops:
                continue
            for w in adj.get(u, ()):
                if w not in dist:
                    dist[w] = dist[u] + 1
                    q.append(w)
        return dist

    df = spark.createDataFrame(directed, "src long, dst long")
    sdf = spark.createDataFrame([(s,) for s in seeds], "node long")
    got = {r["node"]: r["hops"] for r in hop_distances(df, sdf, max_hops=4).collect()}
    assert got == brute(4)
    got3 = {
        r["node"]: r["hops"]
        for r in hop_distances(df.repartition(3), sdf, max_hops=4).collect()
    }
    assert got3 == got  # integer mins: layout-independent
    # max_hops=0 returns exactly the seed set at distance 0
    zero = {r["node"]: r["hops"] for r in hop_distances(df, sdf, max_hops=0).collect()}
    assert zero == {0: 0, 7: 0}
    with pytest.raises(ValueError):
        hop_distances(df, sdf, max_hops=-1)


def _brute_kcore(edges, k, rounds):
    """Sequential synchronous peel: exactly `rounds` iterations of
    drop-nodes-with-degree<k, then surviving (node, degree)."""
    cur = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    for _ in range(rounds):
        deg = {}
        for u, v in cur:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        keep = {n for n, d in deg.items() if d >= k}
        cur = {(u, v) for u, v in cur if u in keep and v in keep}
    deg = {}
    for u, v in cur:
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
    return deg


def test_k_core_matches_brute_force_and_cascades(spark):
    from data_frame_spark.operators.graph import k_core

    # a 4-clique with a pendant chain hanging off it: at k=2 the chain
    # peels one link per round (the cascade), the clique survives
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
             (4, 5), (5, 6), (6, 7)]
    df = spark.createDataFrame(edges, "src long, dst long")
    for rounds in (0, 1, 2, 3, 4):
        got = {
            r["node"]: r["degree"]
            for r in k_core(df, k=2, rounds=rounds).collect()
        }
        assert got == _brute_kcore(edges, 2, rounds), rounds
    # converged state: only the clique remains, all degrees 3
    got = {r["node"]: r["degree"] for r in k_core(df, k=2, rounds=3).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}
    # idempotence once stable (the fixed-round oracle contract)
    assert got == {
        r["node"]: r["degree"] for r in k_core(df, k=2, rounds=9).collect()
    }
    # layout-independence: same answer on a different partitioning
    assert got == {
        r["node"]: r["degree"]
        for r in k_core(df.repartition(5), k=2, rounds=3).collect()
    }
    # k=0 keeps everything; degree reported within the (whole) graph
    assert {
        r["node"]: r["degree"] for r in k_core(df, k=0, rounds=2).collect()
    } == _brute_kcore(edges, 0, 2)


def test_shortest_paths_matches_brute_force(spark):
    from data_frame_spark.operators.graph import shortest_paths

    # weighted diamond + a far tail: the cheap 2-hop route (1-2-4,
    # cost 3) must beat the direct heavy edge (1-4, cost 10), and the
    # bound must truncate (node 6 needs 3 hops from seed 1)
    edges = [(1, 2, 1), (2, 4, 2), (1, 4, 10), (1, 3, 4), (3, 4, 1),
             (4, 5, 1), (5, 6, 1)]
    df = spark.createDataFrame(edges, "src long, dst long, w long")
    seeds = spark.createDataFrame([(1,)], "node long")

    def brute(rounds):
        dist = {1: 0}
        for _ in range(rounds):
            nxt = dict(dist)
            for u, v, w in edges:
                if u in dist and dist[u] + w < nxt.get(v, 1 << 60):
                    nxt[v] = dist[u] + w
            dist = nxt
        return dist

    for rounds in (0, 1, 2, 3, 4):
        got = {
            r["node"]: r["dist"]
            for r in shortest_paths(df, seeds, max_rounds=rounds).collect()
        }
        assert got == brute(rounds), rounds
    # the cheap multi-hop route won, and truncation happened at r=2
    assert brute(2)[4] == 3 and 6 not in brute(2) and brute(4)[6] == 5
    # layout-independence
    got = {
        r["node"]: r["dist"]
        for r in shortest_paths(df.repartition(5), seeds, max_rounds=4).collect()
    }
    assert got == brute(4)


def test_shortest_paths_rejects_negative_weights(spark):
    import pytest

    from data_frame_spark.operators.graph import shortest_paths

    df = spark.createDataFrame([(1, 2, 3), (2, 3, -1)], "src long, dst long, w long")
    seeds = spark.createDataFrame([(1,)], "node long")
    with pytest.raises(ValueError, match="negative weights"):
        shortest_paths(df, seeds, max_rounds=2)


def test_k_core_to_convergence_equals_long_fixed_run(spark):
    from data_frame_spark.operators.graph import k_core

    # chain peels one link per round at k=2: convergence must walk
    # all the way down and match a generously-bounded fixed run
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
             (4, 5), (5, 6), (6, 7), (7, 8)]
    df = spark.createDataFrame(edges, "src long, dst long")
    conv = {r["node"]: r["degree"] for r in k_core(df, k=2, rounds=None).collect()}
    fixed = {r["node"]: r["degree"] for r in k_core(df, k=2, rounds=20).collect()}
    assert conv == fixed == {1: 3, 2: 3, 3: 3, 4: 3}
    # a wipeout (k above max degree) converges to the empty core
    assert k_core(df, k=9, rounds=None).count() == 0


@settings(max_examples=8, deadline=None, derandomize=True)
@given(st.integers(0, 10_000))
def test_k_core_random_graphs_match_brute_peel(spark, seed):
    from data_frame_spark.operators.graph import k_core

    rng = random.Random(seed)
    n = rng.randint(2, 25)
    m = rng.randint(1, 50)
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
    edges = [(u, v) for u, v in edges if u != v] or [(0, 1)]
    k = rng.randint(1, 4)
    rounds = rng.randint(0, 3)
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["degree"]
        for r in k_core(df, k=k, rounds=rounds).collect()
    }
    assert got == _brute_kcore(edges, k, rounds), (seed, k, rounds)


def test_personalized_pagerank_brute_force(spark):
    from data_frame_spark.operators.graph import pagerank

    # star: 1 <-> 2, 1 <-> 3 (both directions), seed = {2}
    edges = [(1, 2), (2, 1), (1, 3), (3, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(2,)], "node long")

    def brute(iters):
        deg = {1: 2, 2: 1, 3: 1}
        base = {1: 0, 2: 150000, 3: 0}
        r = {1: 0, 2: 1_000_000, 3: 0}
        for _ in range(iters):
            c = {n: 0 for n in deg}
            for u, v in edges:
                c[v] += r[u] // deg[u]
            r = {n: base[n] + 85 * c[n] // 100 for n in deg}
        return r

    for iters in (0, 1, 2, 3):
        got = {
            r["node"]: r["rank_micro"]
            for r in pagerank(df, iterations=iters, seeds=seeds).collect()
        }
        assert got == brute(iters), iters
    # classic path unchanged by the refactor: uniform base everywhere
    classic = {
        r["node"]: r["rank_micro"]
        for r in pagerank(df, iterations=2).collect()
    }
    assert set(classic) == {1, 2, 3} and all(v > 150000 for v in classic.values())


def test_ppr_keeps_edgeless_seeds(spark):
    from data_frame_spark.operators.graph import pagerank

    edges = [(1, 2), (2, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(2,), (99,)], "node long")  # 99 has no edges
    got = {
        r["node"]: r["rank_micro"]
        for r in pagerank(df, iterations=2, seeds=seeds).collect()
    }
    # the edge-less seed keeps its restart base and stays in the output
    assert got[99] == 150000
    assert set(got) == {1, 2, 99}


def test_branching_loops_truncation_path_matches_brute_force(spark):
    # r18 pin: hop_distances/shortest_paths chain rounds and only
    # localCheckpoint every _TRUNCATE_EVERY_BRANCHING rounds — a
    # round count ABOVE the interval exercises the mid-loop
    # truncation + chained tail, which the bounded registry rows
    # (3-4 rounds, pure chain) never reach.
    from data_frame_spark.operators.graph import (
        _TRUNCATE_EVERY_BRANCHING,
        hop_distances,
        shortest_paths,
    )

    rounds = _TRUNCATE_EVERY_BRANCHING + 2

    # a path long enough that hops keep growing past the truncation
    chain = [(i, i + 1) for i in range(rounds + 2)]
    df = spark.createDataFrame(chain, "src long, dst long")
    sdf = spark.createDataFrame([(0,)], "node long")
    got = {
        r["node"]: r["hops"]
        for r in hop_distances(df, sdf, max_hops=rounds).collect()
    }
    assert got == {i: i for i in range(rounds + 1)}

    wchain = [(u, v, u + 1) for u, v in chain]
    wdf = spark.createDataFrame(wchain, "src long, dst long, w long")

    def brute(n):
        dist = {0: 0}
        for _ in range(n):
            nxt = dict(dist)
            for u, v, w in wchain:
                if u in dist and dist[u] + w < nxt.get(v, 1 << 60):
                    nxt[v] = dist[u] + w
            dist = nxt
        return dist

    got = {
        r["node"]: r["dist"]
        for r in shortest_paths(wdf, sdf, max_rounds=rounds).collect()
    }
    assert got == brute(rounds)
