"""Graph analytics: connected components, PageRank, triangle counting
on known small graphs (hand-computed goldens)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from news_graph_rag_spark.graph_algos import (
    connected_components,
    pagerank,
    triangle_count,
)


def edges_df(spark, pairs):
    return spark.createDataFrame(pairs, "src bigint, dst bigint")


def test_connected_components_two_chains_and_isolate_pair(spark):
    # component A: 1-2-3-4 (path), component B: 10-11, component C: 20-21-22 (triangle)
    e = edges_df(
        spark,
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (22, 20)],
    )
    got = {(r["id"], r["component"]) for r in connected_components(e).collect()}
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20),
    }


def test_connected_components_long_path_converges(spark):
    # path 0-1-2-...-40: diameter 40, pointer-halving must still converge
    n = 41
    e = edges_df(spark, [(i, i + 1) for i in range(n - 1)])
    got = connected_components(e, max_iter=30).collect()
    assert len(got) == n
    assert {r["component"] for r in got} == {0}


def test_connected_components_max_iter_zero_returns_initial_parents(spark):
    # no round runs: each node's label is min(itself, its neighbours),
    # the initial parent frame, not a NameError on the unset pin flag
    e = edges_df(spark, [(1, 2), (2, 3), (3, 4)])
    got = {(r["id"], r["component"]) for r in connected_components(e, max_iter=0).collect()}
    assert got == {(1, 1), (2, 1), (3, 2), (4, 3)}


def test_pagerank_star_graph(spark):
    # star: 1,2,3 all point at 0; 0 points at 1
    e = edges_df(spark, [(1, 0), (2, 0), (3, 0), (0, 1)])
    # 0↔1 form a cycle: convergence is geometric (0.85²)ⁿ — run enough
    # iterations that the alternating error is below tolerance
    ranks = {r["id"]: r["rank"] for r in pagerank(e, iters=60).collect()}
    assert set(ranks) == {0, 1, 2, 3}
    # hub 0 collects from 3 sources; 2,3 are dangling-free leaves at reset
    assert ranks[0] > ranks[1] > ranks[2] == ranks[3] == pytest.approx(0.15)
    # fixpoint sanity: rank(0) = 0.15 + 0.85*(rank(1)+rank(2)+rank(3))
    assert ranks[0] == pytest.approx(
        0.15 + 0.85 * (ranks[1] + ranks[2] + ranks[3]), rel=3e-4
    )


def test_pagerank_exact_mode_matches_float_mode(spark):
    e = edges_df(spark, [(1, 0), (2, 0), (3, 0), (0, 1), (2, 1), (3, 2)])
    f = {r["id"]: r["rank"] for r in pagerank(e, iters=5).collect()}
    x = {r["id"]: r["rank"] for r in pagerank(e, iters=5, exact=True).collect()}
    for k in f:
        assert f[k] == pytest.approx(x[k], rel=1e-9)


def test_triangle_count(spark):
    # one triangle (1,2,3) + a pendant edge 3-4 + a second triangle (3,4,5)
    e = edges_df(spark, [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 3)])
    got = {(r["id"], r["n_triangles"]) for r in triangle_count(e).collect()}
    assert got == {(1, 1), (2, 1), (3, 2), (4, 1), (5, 1)}


def test_triangle_count_direction_and_duplicates_ignored(spark):
    # duplicate + reversed edges must not double-count
    e = edges_df(spark, [(1, 2), (2, 1), (2, 3), (3, 1), (1, 3), (1, 2)])
    got = {(r["id"], r["n_triangles"]) for r in triangle_count(e).collect()}
    assert got == {(1, 1), (2, 1), (3, 1)}


def test_bfs_distances_golden_path(spark):
    from news_graph_rag_spark.graph_algos import bfs_distances

    # path 0-1-2-3 plus a triangle shortcut 0-2, and an isolated edge 8-9
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (0, 2), (8, 9)], "src: long, dst: long"
    )
    got = {r["id"]: r["dist"] for r in bfs_distances(edges, 0).collect()}
    assert got == {0: 0, 1: 1, 2: 1, 3: 2}


def test_bfs_distances_respects_max_hops(spark):
    from news_graph_rag_spark.graph_algos import bfs_distances

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "src: long, dst: long"
    )
    got = {r["id"]: r["dist"] for r in bfs_distances(chain, 0, max_hops=3).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}


def test_k_core_hand_graph(spark):
    """k=2 core of: triangle {1,2,3} + pendant chain 3-4-5. Peeling
    removes 5 (deg 1) then 4 (deg 1 after 5 leaves); the triangle
    survives with degree 2 each."""
    from news_graph_rag_spark.graph_algos import k_core

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    got = {r["id"]: r["degree"] for r in k_core(edges, k=2).collect()}
    assert got == {1: 2, 2: 2, 3: 2}


def test_k_core_all_peeled(spark):
    from news_graph_rag_spark.graph_algos import k_core

    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    assert k_core(edges, k=3).count() == 0


def test_label_propagation_two_clique_bridge(spark):
    """Two 4-cliques joined by one bridge edge: LPA must converge to
    exactly two communities split at the bridge — the structure
    connected components cannot see (the whole graph is one component)."""
    from news_graph_rag_spark.graph_algos import label_propagation

    clique_a = [(i, j) for i in range(4) for j in range(4) if i < j]
    clique_b = [(i, j) for i in range(10, 14) for j in range(10, 14) if i < j]
    e = edges_df(spark, clique_a + clique_b + [(3, 10)])
    got = {r["id"]: r["label"] for r in label_propagation(e, rounds=3).collect()}
    assert set(got) == set(range(4)) | set(range(10, 14))
    assert {got[i] for i in range(4)} == {0}
    assert {got[i] for i in range(10, 14)} == {10}
    # one connected component, two communities — LPA adds information
    cc = connected_components(e).select("component").distinct().count()
    assert cc == 1


def test_label_propagation_converges_and_is_deterministic(spark):
    """Once converged, extra rounds are a fixpoint; equal-round runs
    are bit-identical (the property the unrolled SQL oracle relies on)."""
    from news_graph_rag_spark.graph_algos import label_propagation

    e = edges_df(
        spark,
        [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 5), (5, 3)],
    )
    r3 = sorted(map(tuple, label_propagation(e, rounds=3).collect()))
    r4 = sorted(map(tuple, label_propagation(e, rounds=4).collect()))
    r3b = sorted(map(tuple, label_propagation(e, rounds=3).collect()))
    assert r3 == r4  # fixpoint reached
    assert r3 == r3b  # deterministic
    # two triangles sharing a bridge edge -> two communities split at
    # the bridge. (The second community's LABEL is 2, not 3: in round 1
    # node 3's neighbor labels {2,4,5} tie at count 1 and the min rule
    # picks 2, which then wins the majority inside the right triangle —
    # the community PARTITION is what's meaningful, not the label id.)
    got = dict(r3)
    assert {got[i] for i in (0, 1, 2)} == {0}
    assert {got[i] for i in (3, 4, 5)} == {2}
    assert got[0] != got[3]


def test_aggregate_messages_semantics(spark):
    """GraphFrames aggregateMessages parity: message expressions see
    the triplet (src/edge/dst structs), each leg addresses its own
    endpoint, and vertices receiving no message are absent (GraphFrames
    behavior — outer-join with the vertex table if you need zeros)."""
    from pyspark.sql import functions as F

    from news_graph_rag_spark.graph_algos import aggregate_messages

    vertices = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0), (4, 99.0)], "id long, score double"
    )
    edges = spark.createDataFrame(
        [(1, 2, 5), (2, 3, 7)], "src long, dst long, w int"
    )
    # msg_to_dst only: each dst receives src.score + edge.w
    got = {
        r["id"]: r["agg_msg"]
        for r in aggregate_messages(
            vertices,
            edges,
            msg_to_dst=F.col("src.score") + F.col("edge.w"),
        ).collect()
    }
    assert got == {2: 15.0, 3: 27.0}  # node 1 and isolated 4 absent
    # both legs + custom aggs: per-vertex message count
    got2 = {
        r["id"]: r["n"]
        for r in aggregate_messages(
            vertices,
            edges,
            msg_to_src=F.lit(1),
            msg_to_dst=F.lit(1),
            aggs=[F.count(F.lit(1)).alias("n")],
        ).collect()
    }
    assert got2 == {1: 1, 2: 2, 3: 1}  # undirected degree
    import pytest as _pytest

    with _pytest.raises(ValueError, match="at least one"):
        aggregate_messages(vertices, edges)


# ---------------------------------------------------------------------------
# Strongly connected components (round 11)
# ---------------------------------------------------------------------------


def _tarjan(pairs):
    """Reference SCC (iterative Tarjan): {node: min-id-of-its-SCC}."""
    from collections import defaultdict

    g = defaultdict(list)
    nodes = set()
    for s, d in pairs:
        g[s].append(d)
        nodes.update((s, d))
    index, low, on, stack, comp = {}, {}, set(), [], {}
    counter = [0]
    for root in sorted(nodes):
        if root in index:
            continue
        work = [(root, iter(g[root]))]
        index[root] = low[root] = counter[0]
        counter[0] += 1
        stack.append(root)
        on.add(root)
        while work:
            v, it = work[-1]
            advanced = False
            for w in it:
                if w not in index:
                    index[w] = low[w] = counter[0]
                    counter[0] += 1
                    stack.append(w)
                    on.add(w)
                    work.append((w, iter(g[w])))
                    advanced = True
                    break
                elif w in on:
                    low[v] = min(low[v], index[w])
            if advanced:
                continue
            work.pop()
            if work:
                pv = work[-1][0]
                low[pv] = min(low[pv], low[v])
            if low[v] == index[v]:
                c = []
                while True:
                    w = stack.pop()
                    on.discard(w)
                    c.append(w)
                    if w == v:
                        break
                m = min(c)
                for x in c:
                    comp[x] = m
    return comp


def _scc_dict(spark, pairs, doublings=6):
    from news_graph_rag_spark.graph_algos import strongly_connected_components

    e = edges_df(spark, pairs)
    return {
        r["id"]: r["scc_id"]
        for r in strongly_connected_components(e, doublings=doublings).collect()
    }


def test_scc_two_cycles_with_bridge(spark):
    # 1→2→3→1 and 10→11→12→10, one bridge 3→10: two 3-node SCCs —
    # weak connectivity would merge everything into one component
    pairs = [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (12, 10), (3, 10)]
    got = _scc_dict(spark, pairs)
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}


def test_scc_does_not_merge_shared_ancestor_descendant(spark):
    # The FW-BW-coloring counterexample: 1→5, 1→6, 5→2, 6→2. Nodes 5
    # and 6 share min-ancestor (1) AND min-descendant (2) — a single
    # forward/backward min-label pass would give them the same color
    # pair, but they are NOT mutually reachable. Mutual-reachability on
    # the exact closure must keep all four singleton.
    pairs = [(1, 5), (1, 6), (5, 2), (6, 2)]
    got = _scc_dict(spark, pairs)
    assert got == {1: 1, 2: 2, 5: 5, 6: 6}


def test_scc_long_cycle_needs_doubling_depth(spark):
    # 12-cycle: closure needs paths of length 11; 2 doublings (≤4 hops)
    # under-approximate (still correct SCC? no — mutual reachability
    # fails for far-apart nodes), 4 doublings (≤16) suffice. This pins
    # the doublings→coverage contract instead of assuming it.
    n = 12
    pairs = [(i, (i + 1) % n) for i in range(n)]
    full = _scc_dict(spark, pairs, doublings=4)
    assert set(full.values()) == {0}
    shallow = _scc_dict(spark, pairs, doublings=2)
    assert len(set(shallow.values())) > 1  # under-unrolled → split cycle
    assert _tarjan(pairs) == full


def test_scc_matches_tarjan_on_random_digraphs(spark):
    # seeded differential: 6 random sparse digraphs, exact match
    import random

    rng = random.Random(2024)
    for trial in range(6):
        n = rng.randint(6, 14)
        m = rng.randint(n, 3 * n)
        pairs = list(
            {
                (rng.randrange(n), rng.randrange(n))
                for _ in range(m)
            }
        )
        pairs = [(s, d) for s, d in pairs if s != d]
        if not pairs:
            continue
        assert _scc_dict(spark, pairs) == _tarjan(pairs), pairs


def test_scc_entry_closure_is_at_fixpoint(spark, sf_dir):
    # the catalog entry unrolls 6 doublings; a 7th must change nothing
    # (the closure reached its fixpoint well inside the budget)
    from news_graph_rag_spark.graph_algos import strongly_connected_components
    from news_graph_rag_spark.queries.round11 import _seq_edges

    e = _seq_edges(spark, sf_dir).localCheckpoint(eager=True)
    six = strongly_connected_components(e, doublings=6)
    seven = strongly_connected_components(e, doublings=7)
    assert {tuple(r) for r in six.collect()} == {tuple(r) for r in seven.collect()}


def test_scc_condensation_is_acyclic(spark, sf_dir):
    # the condensation of any digraph is a DAG: running Tarjan on the
    # condensed edges must give only singleton SCCs, and every
    # condensed edge must connect two DIFFERENT scc ids
    from news_graph_rag_spark.queries import registry

    rows = registry()["scc_condensation_parts"].fn(spark, sf_dir).collect()
    cond = [(r["src_scc"], r["dst_scc"]) for r in rows]
    assert all(s != d for s, d in cond)
    assert all(r["n_edges"] >= 1 for r in rows)
    comp = _tarjan(cond)
    assert all(comp[v] == v for v in comp), "condensation has a cycle"


# ---------------------------------------------------------------------------
# DAG longest-path layering (round 11)
# ---------------------------------------------------------------------------


def _dp_layers(pairs):
    """Reference longest-path layers via Kahn topological DP."""
    from collections import defaultdict, deque

    g = defaultdict(list)
    indeg = defaultdict(int)
    nodes = set()
    for s, d in pairs:
        g[s].append(d)
        indeg[d] += 1
        nodes.update((s, d))
    layer = {v: 0 for v in nodes}
    q = deque(v for v in nodes if indeg[v] == 0)
    seen = 0
    while q:
        v = q.popleft()
        seen += 1
        for w in g[v]:
            layer[w] = max(layer[w], layer[v] + 1)
            indeg[w] -= 1
            if indeg[w] == 0:
                q.append(w)
    assert seen == len(nodes), "input graph has a cycle"
    return layer


def _layers_dict(spark, pairs, doublings=6):
    from news_graph_rag_spark.graph_algos import dag_longest_paths

    return {
        r["id"]: r["layer"]
        for r in dag_longest_paths(
            edges_df(spark, pairs), doublings=doublings
        ).collect()
    }


def test_dag_layers_diamond_golden(spark):
    # diamond with a long arm: 1→2→3→5 and 1→4→5 — node 5's layer is 3
    # (the LONGEST incoming path), not 2
    pairs = [(1, 2), (2, 3), (3, 5), (1, 4), (4, 5)]
    assert _layers_dict(spark, pairs) == {1: 0, 2: 1, 3: 2, 4: 1, 5: 3}


def test_dag_layers_match_topological_dp_on_random_dags(spark):
    # seeded differential: random DAGs (edges oriented low→high can
    # never form a cycle), exact layer equality with Kahn DP
    import random

    rng = random.Random(411)
    for _ in range(5):
        n = rng.randint(5, 14)
        pairs = list(
            {
                tuple(sorted((rng.randrange(n), rng.randrange(n))))
                for _ in range(rng.randint(n, 3 * n))
            }
        )
        pairs = [(s, d) for s, d in pairs if s != d]
        if not pairs:
            continue
        assert _layers_dict(spark, pairs) == _dp_layers(pairs), pairs


def test_dag_layers_entry_is_at_fixpoint(spark, sf_dir):
    # the catalog entry unrolls 6 max-plus doublings over the
    # condensation; a 7th must change nothing
    from news_graph_rag_spark.graph_algos import dag_longest_paths
    from news_graph_rag_spark.queries.round11 import _condensed_edge_rows

    cond = (
        _condensed_edge_rows(spark, sf_dir)
        .select(F.col("src_scc").alias("src"), F.col("dst_scc").alias("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    six = {tuple(r) for r in dag_longest_paths(cond, doublings=6).collect()}
    seven = {tuple(r) for r in dag_longest_paths(cond, doublings=7).collect()}
    assert six == seven


def test_varlength_min_hops_matches_bfs_on_random_digraphs(spark):
    """Round-11 Cypher var-length parity: (src, dst, hops) must equal
    per-source BFS truncated at max_hops, self-pairs excluded."""
    import random
    from collections import deque

    from news_graph_rag_spark.graph_algos import varlength_min_hops

    def bfs_pairs(pairs, max_hops):
        from collections import defaultdict

        g = defaultdict(list)
        nodes = set()
        for s, d in pairs:
            g[s].append(d)
            nodes.update((s, d))
        want = set()
        for s in nodes:
            dist = {s: 0}
            q = deque([s])
            while q:
                v = q.popleft()
                if dist[v] >= max_hops:
                    continue
                for w in g[v]:
                    if w not in dist:
                        dist[w] = dist[v] + 1
                        q.append(w)
            for d_, h in dist.items():
                if 1 <= h <= max_hops and d_ != s:
                    want.add((s, d_, h))
        return want

    rng = random.Random(311)
    for _ in range(5):
        n = rng.randint(5, 12)
        pairs = list(
            {(rng.randrange(n), rng.randrange(n)) for _ in range(rng.randint(n, 3 * n))}
        )
        pairs = [(s, d) for s, d in pairs if s != d]
        if not pairs:
            continue
        got = {
            tuple(r)
            for r in varlength_min_hops(
                edges_df(spark, pairs), max_hops=3
            ).collect()
        }
        assert got == bfs_pairs(pairs, 3), pairs


def test_temporal_earliest_arrival_respects_time_ordering(spark):
    """Golden: 1→2 fires at t=5, 2→3 at t=3 — statically 3 is reachable
    from 1, temporally it is NOT (you arrive at 2 at t=5, after the
    2→3 edge fired). The reverse chain with increasing times works."""
    from news_graph_rag_spark.graph_algos import temporal_earliest_arrival

    edges = spark.createDataFrame(
        [(1, 2, 5), (2, 3, 3), (10, 11, 3), (11, 12, 5)],
        "src bigint, dst bigint, t bigint",
    )
    seeds = spark.createDataFrame([(1,), (10,)], "id bigint")
    got = {
        r["node"]: r["arr"]
        for r in temporal_earliest_arrival(edges, seeds, rounds=4).collect()
    }
    assert got == {1: 0, 2: 5, 10: 0, 11: 3, 12: 5}  # no node 3


def test_temporal_earliest_arrival_matches_python_on_random_graphs(spark):
    """Seeded differential vs a pure-Python label-correcting solver
    (bounded to the same number of relaxation rounds)."""
    import random

    from news_graph_rag_spark.graph_algos import temporal_earliest_arrival

    def ref(triples, seeds, rounds):
        arr = {s: 0 for s in seeds}
        for _ in range(rounds):
            nxt = dict(arr)
            for s, d, t in triples:
                if s in arr and t >= arr[s]:
                    if d not in nxt or t < nxt[d]:
                        nxt[d] = min(nxt.get(d, t), t)
            arr = nxt
        return arr

    rng = random.Random(777)
    for _ in range(5):
        n = rng.randint(4, 10)
        triples = list(
            {
                (rng.randrange(n), rng.randrange(n), rng.randint(0, 8))
                for _ in range(rng.randint(n, 3 * n))
            }
        )
        triples = [(s, d, t) for s, d, t in triples if s != d]
        if not triples:
            continue
        seeds = sorted({s for s, _, _ in triples})[:2]
        e = spark.createDataFrame(triples, "src bigint, dst bigint, t bigint")
        sd = spark.createDataFrame([(s,) for s in seeds], "id bigint")
        got = {
            r["node"]: r["arr"]
            for r in temporal_earliest_arrival(e, sd, rounds=4).collect()
        }
        assert got == ref(triples, seeds, 4), (triples, seeds)


def _fbtrim_dict(spark, pairs, **kw):
    from news_graph_rag_spark.graph_algos import (
        strongly_connected_components_fbtrim,
    )

    e = edges_df(spark, pairs)
    return {
        r["id"]: r["scc_id"]
        for r in strongly_connected_components_fbtrim(e, **kw).collect()
    }


def test_fbtrim_scc_matches_tarjan_on_random_digraphs(spark):
    """Round-13 (VERDICT r12 #5): the FB-trim large-graph SCC vs the
    Tarjan reference AND the closure variant on seeded random sparse
    digraphs — exact label-for-label match (both use min-id labels)."""
    import random

    rng = random.Random(1313)
    for trial in range(6):
        n = rng.randint(6, 16)
        m = rng.randint(n, 3 * n)
        pairs = list(
            {(rng.randrange(n), rng.randrange(n)) for _ in range(m)}
        )
        pairs = [(s, d) for s, d in pairs if s != d]
        if not pairs:
            continue
        want = _tarjan(pairs)
        assert _fbtrim_dict(spark, pairs) == want, pairs
        assert _scc_dict(spark, pairs) == want, pairs


def test_fbtrim_scc_shared_ancestor_descendant(spark):
    """The FW-BW min-label COLORING counterexample (see
    test_scc_does_not_merge_shared_ancestor_descendant): per-partition
    pivot recursion must keep 5 and 6 singleton — pinning that fbtrim
    is the recursion variant, not the broken one-pass coloring."""
    pairs = [(1, 5), (1, 6), (5, 2), (6, 2)]
    assert _fbtrim_dict(spark, pairs) == {1: 1, 2: 2, 5: 5, 6: 6}


def test_fbtrim_scc_structures(spark):
    # two cycles + bridge; a pure DAG (trim should consume everything);
    # a long cycle (single partition, one FB round)
    pairs = [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (12, 10), (3, 10)]
    assert _fbtrim_dict(spark, pairs) == {
        1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10,
    }
    dag = [(1, 2), (1, 3), (2, 4), (3, 4), (4, 5)]
    assert _fbtrim_dict(spark, dag) == {i: i for i in range(1, 6)}
    cyc = [(i, (i + 1) % 9) for i in range(9)]
    assert _fbtrim_dict(spark, cyc) == {i: 0 for i in range(9)}


def test_fbtrim_scc_round_cap_raises(spark):
    """An exhausted round budget must raise, never return partial
    labels (chain of 2-cycles: one SCC per FB round after the pivot's
    partition — 1 round cannot finish 3 cycles)."""
    import pytest as _pytest

    pairs = []
    for i in range(3):
        a, b = 2 * i, 2 * i + 1
        pairs += [(a, b), (b, a)]
        if i:
            pairs.append((a - 2, a))
    with _pytest.raises(ValueError, match="did not converge"):
        _fbtrim_dict(spark, pairs, max_rounds=1)
    assert _fbtrim_dict(spark, pairs) == _tarjan(pairs)
