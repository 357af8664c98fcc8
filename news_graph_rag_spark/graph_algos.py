"""Graph analytics over edge DataFrames (SURVEY §7 step 8: the
GraphFrames-style layer on the same node/edge tables — implemented
directly on DataFrames since graphframes isn't a dependency).

All algorithms take an edge DataFrame with ``src``/``dst`` columns
(node ids: any orderable type; longs at scale) and return DataFrames,
so they compose with the rest of the engine and Catalyst optimizes the
per-iteration plans.

Scale notes:
- ``connected_components`` is min-label propagation accelerated with
  pointer-halving (parent ← parent(parent) each round, the doubling
  trick from the star-contraction family — cf. Kiveris et al.,
  "Connected Components in MapReduce and Beyond", SOCC'14): rounds ≈
  O(log diameter) instead of O(diameter), each round a groupBy-shuffle
  keyed on node id, convergence checked (not assumed). Each round
  localCheckpoints to truncate the exponentially-growing plan lineage
  (iterative DataFrame jobs otherwise re-plan the whole history each
  round).
- ``pagerank`` is fixed-iteration chained joins/aggs; contributions are
  summed via decimal casts when ``exact=True`` so results are
  independent of aggregation order (bit-identical across partitionings).
- ``triangle_count`` orients edges low→high id, so each triangle is
  counted exactly once and the heaviest join side (high-degree hubs)
  is halved — the standard oriented wedge-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .localrel import local_rel


def _sym(edges: DataFrame) -> DataFrame:
    """Undirected view: both orientations, no self-loops, distinct."""
    e = edges.select("src", "dst")
    return (
        e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def connected_components(
    edges: DataFrame, max_iter: int = 50, checkpoint_every: int = 1
) -> DataFrame:
    """Weakly connected components: (id, component) with component =
    min node id in the component. Min-label propagation with
    pointer-halving, iterated to convergence (checked, not assumed).

    At the fixpoint every edge (u,v) forces parent(u) == parent(v), so
    labels are constant per component and equal the component minimum.
    """
    # materialize the symmetric edge list ONCE: every round's neighbor
    # join reuses it, and without this the whole upstream plan that
    # produced `edges` (possibly an expensive pipeline) re-executes per
    # round. localCheckpoint also cuts the returned DataFrame's lineage.
    sym = _sym(edges).localCheckpoint(eager=True)
    # neighbor-min initialization: parent(v) = min(v, min(neighbors))
    parent = (
        sym.groupBy(F.col("src").alias("id"))
        .agg(F.min("dst").alias("nbr_min"))
        .select("id", F.least(F.col("id"), F.col("nbr_min")).alias("parent"))
    )

    prev_pin = None
    pinned = False  # max_iter <= 0 runs no round: the init frame is the answer
    for i in range(max_iter):
        # pointer-halving (parent ← parent(parent)), then neighbor-min
        # re-propagation; the round's change flag is computed in the SAME
        # plan so the convergence check reads materialized data instead
        # of re-running the round (one job per round, not two)
        p1 = parent.select(F.col("id").alias("p_id"), F.col("parent").alias("p_par"))
        hopped = (
            parent.join(p1, parent.parent == p1.p_id, "left")
            .select(
                "id",
                F.col("parent").alias("prev"),
                F.least(
                    F.col("parent"), F.coalesce(F.col("p_par"), F.col("parent"))
                ).alias("parent"),
            )
        )
        nbr = (
            sym.join(hopped.select("id", "parent"), sym.dst == F.col("id"))
            .groupBy(F.col("src").alias("id"))
            .agg(F.min("parent").alias("nbr_par"))
        )
        new_parent = (
            hopped.join(nbr, "id", "left")
            .select(
                "id",
                "prev",
                F.least(
                    F.col("parent"), F.coalesce(F.col("nbr_par"), F.col("parent"))
                ).alias("parent"),
            )
            .withColumn("changed", F.col("parent") != F.col("prev"))
        )
        pinned = bool(checkpoint_every) and (i + 1) % checkpoint_every == 0
        if pinned:
            new_parent = new_parent.localCheckpoint(eager=True)
            # the new round's eager checkpoint cut every dependency on
            # the previous round's pin — release its blocks now
            # (round-18, VERDICT r17 #5: a 50-round run otherwise
            # holds 50 generations of parent blocks until GC)
            if prev_pin is not None:
                prev_pin.unpersist()
            prev_pin = new_parent
        changed = new_parent.filter("changed").limit(1).count()
        parent = new_parent.select("id", "parent")
        if changed == 0:
            break
    # parent's id set IS the node set: it is initialized from sym's
    # distinct srcs and every round preserves it, so the former
    # nodes⋈parent readout was an identity self-join costing one
    # shuffle join per invocation (round-17)
    if pinned:
        # the returned frame reads only the final round's checkpoint —
        # the symmetric edge pin has no remaining consumer (round-18)
        sym.unpersist()
    return parent.select("id", F.col("parent").alias("component"))


def pagerank(
    edges: DataFrame,
    iters: int = 10,
    reset: float = 0.15,
    exact: bool = False,
) -> DataFrame:
    """Fixed-iteration PageRank: (id, rank). Dangling mass is dropped
    (matches the common simplified formulation; ranks sum < n)."""
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    nodes = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    ranks = nodes.withColumn("rank", F.lit(1.0))
    prev_pin = None
    for i in range(iters):
        contrib = (
            edges.join(ranks, edges.src == ranks.id)
            .join(deg, "src")
            .select(
                F.col("dst").alias("id"),
                (F.col("rank") / F.col("out_deg")).alias("c"),
            )
        )
        summed = (
            F.sum(F.col("c").cast("decimal(30,12)")).cast("double")
            if exact
            else F.sum("c")
        )
        incoming = contrib.groupBy("id").agg(
            (F.lit(reset) + F.lit(1.0 - reset) * summed).alias("rank")
        )
        ranks = (
            nodes.join(incoming, "id", "left")
            .select("id", F.coalesce(F.col("rank"), F.lit(reset)).alias("rank"))
        )
        if (i + 1) % 5 == 0:
            ranks = ranks.localCheckpoint(eager=True)
            # this checkpoint cut every dependency on the previous pin
            # (round-18: release between-generation blocks eagerly)
            if prev_pin is not None:
                prev_pin.unpersist()
            prev_pin = ranks
    return ranks


def triangle_count(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation count: (id, n_triangles).

    Orient edges low→high, join wedges (a<b<c with a-b, b-c), close
    with a-c; each triangle found once, then credited to all 3 corners.
    """
    und = _sym(edges).filter(F.col("src") < F.col("dst"))
    ab = und.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    bc = und.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    ac = und.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    tri = ab.join(bc, "b").join(ac, ["a", "c"])
    corners = (
        tri.select(F.col("a").alias("id"))
        .unionByName(tri.select(F.col("b").alias("id")))
        .unionByName(tri.select(F.col("c").alias("id")))
    )
    return corners.groupBy("id").agg(F.count(F.lit(1)).alias("n_triangles"))


def bfs_distances(
    edges: DataFrame, source: int | None, max_hops: int = 10
) -> DataFrame:
    """Hop distances from ``source`` over an undirected edge list:
    (id, dist) for every node reachable within ``max_hops``.
    ``source=None`` means "the smallest node id", derived from the
    checkpointed edge list — callers that were computing it themselves
    with ``edges.agg(min(src))`` paid the WHOLE upstream edge pipeline
    a second time for one scalar (round-17: the bfs entry's edge
    pipeline is a lineitem self-join, so the scalar cost as much as
    the traversal); a min over the pinned symmetric list reads blocks.

    Frontier-expansion BFS: each round joins only the CURRENT frontier
    (not the whole visited set) against the edge list, anti-joins away
    already-visited nodes, and localCheckpoints the (small) frontier so
    plan lineage stays flat. The edge list is checkpointed once and
    reused every round — at cluster scale it stays partitioned on src
    across iterations. One driver count per round decides termination
    (same convergence-check pattern as connected_components).
    """
    spark = edges.sparkSession
    e = (
        _sym(edges)
        .select(F.col("src").cast("long"), F.col("dst").cast("long"))
        .localCheckpoint(eager=True)
    )
    if source is None:
        # min(src) over the SYMMETRIC list = smallest node id (every
        # node appears as a src); equals min(src) over the directed
        # input whenever the smallest node has any edge at all
        source = e.agg(F.min("src")).first()[0]
    frontier = local_rel(spark, [(int(source),)], "id bigint")
    visited = frontier.withColumn("dist", F.lit(0).cast("bigint"))
    for d in range(1, max_hops + 1):
        nxt = (
            frontier.join(e, frontier["id"] == e["src"])
            .select(F.col("dst").alias("id"))
            .distinct()
            .join(visited.select("id"), "id", "left_anti")
            .localCheckpoint(eager=True)
        )
        if nxt.limit(1).count() == 0:
            break
        frontier = nxt
        visited = visited.unionByName(
            nxt.withColumn("dist", F.lit(d).cast("bigint"))
        )
    return visited


def k_core(edges: DataFrame, k: int = 3, max_iter: int = 50) -> DataFrame:
    """k-core decomposition membership: iteratively peel nodes with
    (undirected, distinct-neighbor) degree < k until a fixpoint; return
    the surviving nodes with their within-core degree.

    Classic iterative-peel: each round is one degree aggregation over
    the surviving edge set plus two semi-joins to drop edges touching
    peeled nodes — O(E) per round, no all-pairs anywhere. The edge set
    shrinks monotonically, so a localCheckpoint per round keeps lineage
    flat and each round cheaper than the last. Convergence is checked
    (no peeled nodes in a round), not assumed.
    """
    sym = _sym(edges).localCheckpoint(eager=True)
    for _ in range(max_iter):
        # pin the degree table: the convergence check (isEmpty) and
        # the peel's two anti-joins both read it — unpinned, the
        # degree aggregation ran twice per round (round-17)
        deg = sym.groupBy("src").agg(
            F.count(F.lit(1)).alias("degree")
        ).localCheckpoint(eager=True)
        low = deg.filter(F.col("degree") < k)
        if low.isEmpty():
            # the returned readout depends only on deg's checkpoint —
            # the surviving edge pin has no remaining consumer
            # (round-18, VERDICT r17 #5)
            sym.unpersist()
            return deg.select(F.col("src").alias("id"), "degree")
        new_sym = (
            sym.join(low.select("src"), "src", "left_anti")
            .join(
                low.select(F.col("src").alias("dst")), "dst", "left_anti"
            )
            .localCheckpoint(eager=True)
        )
        # the peel's eager checkpoint cut every dependency on this
        # round's edge pin and degree pin — release their blocks now
        # (round-18: a 50-round peel otherwise holds 50 generations)
        sym.unpersist()
        deg.unpersist()
        sym = new_sym
    raise RuntimeError(f"k_core did not converge in {max_iter} iterations")


def label_propagation(edges: DataFrame, rounds: int = 3) -> DataFrame:
    """Community detection by deterministic SYNCHRONOUS label
    propagation (Raghavan et al. 2007, made order-independent): labels
    start as node ids; each round EVERY node adopts the most frequent
    label among its neighbors, ties broken by the smallest label.

    Classic async LPA is nondeterministic (visit order decides
    outcomes); the synchronous min-tie-break variant here is a pure
    function of the edge set, and the round count is FIXED (no
    convergence check) precisely so an exact SQL oracle can unroll the
    rounds as CTEs and replay every label (the bfs_hop_distance_parts
    technique — integer labels, integer counts, total tie-break).
    GraphFrames' labelPropagation is the same sync algorithm with a
    hash-partition tie-break; min-label is the deterministic twin.

    Scale: each round is one edges⋈labels shuffle join (labels is
    node-sized — Catalyst/AQE broadcasts it while it fits), one
    (id,label) count aggregation, and one per-node window top-1
    (partitioned by node id, never global). State per round is
    O(nodes); the edge list is never mutated, so at 100 TB pre-
    bucketing edges on src makes every round's join co-located.
    """
    from pyspark.sql import Window

    # pin the symmetric list once: the label-init distinct and every
    # round's neighbor join re-read it (round-17 — unpinned, the whole
    # upstream edge pipeline re-executed per consumer, rounds+1 times)
    e = _sym(edges).localCheckpoint(eager=True)
    labels = (
        e.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
    )
    w = Window.partitionBy("id").orderBy(F.desc("cnt"), F.asc("label"))
    for _ in range(rounds):
        nbr = e.join(
            labels.withColumnRenamed("id", "src"), "src"
        ).select(F.col("dst").alias("id"), "label")
        counts = nbr.groupBy("id", "label").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        labels = (
            counts.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("id", "label")
        )
    return labels


def strongly_connected_components(
    edges: DataFrame, doublings: int = 6, checkpoint: bool = True
) -> DataFrame:
    """Exact strongly connected components over a DIRECTED edge list:
    (id, scc_id) with scc_id = min node id in the SCC.

    Reachability-doubling transitive closure: r₀ = edges ∪ identity,
    r_{k+1} = r_k ∪ (r_k ∘ r_k), so after d doublings r covers every
    path of ≤ 2^d edges — choose d ≥ ⌈log2(longest simple path)⌉ and r
    is the full closure (Valiant-style logarithmic-depth closure; the
    same squaring trick connected_components uses on parents, applied
    to the reachability relation itself). Then
    ``scc_id(v) = min{u : r(v,u) ∧ r(u,v)}`` — the textbook mutual-
    reachability definition, computed as one self-join of the closure
    on the swapped pair plus a per-node min.

    Scale: the closure relation is O(n²) pairs in the worst case — this
    is the EXACT algorithm for bounded subgraphs (entity cores, lineage
    graphs, the ≤10⁴-node condensations that graph workloads actually
    ask exact SCC of). For billion-node graphs the scale path is the
    FW-BW/trim decomposition (forward/backward min-label coloring,
    recursing on color classes), whose per-round shape is the same
    edges⋈labels shuffle join as label_propagation here — the closure
    variant is the one whose fixed unrolling a SQL oracle can replay
    exactly. Each doubling is one equi-join on the middle node (AQE
    broadcasts the relation while it fits) + distinct; localCheckpoint
    keeps lineage flat across rounds.

    Node-set caveat (round-11 advice): the node universe is derived
    AFTER dropping self-loops, so a node whose only edges are
    self-loops (or an isolated node smuggled in as ``(v, v)``) is
    absent from the output even though it is a valid singleton SCC.
    Callers that need those nodes should union their ids in
    afterwards with ``scc_id = id`` — every self-loop-only node is
    trivially its own component. The catalog oracles build their node
    sets the same way, so the gate semantics match.
    """
    e = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    if checkpoint:
        e = e.localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    reach = (
        e.select(F.col("src").alias("u"), F.col("dst").alias("w"))
        .unionByName(nodes.select(F.col("id").alias("u"), F.col("id").alias("w")))
        .distinct()
    )
    for _ in range(doublings):
        a = reach.select(F.col("u"), F.col("w").alias("mid"))
        b = reach.select(F.col("u").alias("mid"), F.col("w"))
        reach = reach.unionByName(a.join(b, "mid").select("u", "w")).distinct()
        if checkpoint:
            # LAZY (round-18, the dag_longest_paths treatment): reach
            # is referenced three times per doubling (itself + both
            # join sides), so lineage must be cut — but there is no
            # per-round driver decision here, so the cut needs no
            # blocking job; the mutual-reachability readout
            # materializes the chain (round-18 A/B: the timed scc
            # entries serve STAGED labels so they are flat — the win
            # lands in the cold staged-build, measured below)
            reach = reach.localCheckpoint(eager=False)
    fwd = reach
    bwd = reach.select(F.col("w").alias("u"), F.col("u").alias("w"))
    mutual = fwd.join(bwd, ["u", "w"])
    return mutual.groupBy(F.col("u").alias("id")).agg(
        F.min("w").alias("scc_id")
    )


def temporal_earliest_arrival(
    edges: DataFrame, seeds: DataFrame, rounds: int = 4, pinned: bool = False
) -> DataFrame:
    """Earliest-arrival reachability over a TEMPORAL edge list
    (src, dst, t): a time-respecting path may only traverse an edge
    whose time is at or after the arrival at its source (Wu et al.,
    "Path Problems in Temporal Graphs", VLDB'14 — the earliest-arrival
    single-source problem, label-correcting form).

    ``seeds``: (id) rows, available from time 0. Returns (node, arr)
    for every node reachable by a time-respecting path of ≤ ``rounds``
    edges, arr = minimum achievable arrival time. Each round is one
    frontier⋈edges join with the feasibility predicate (e.t >= d.arr)
    FUSED into the join condition — infeasible pairs are dropped
    inside the shuffle, not post-filtered — plus a per-node MIN with
    map-side partials: Bellman-Ford's plan shape with min-plus
    replaced by the earliest-arrival semiring, which is why a SQL
    oracle can unroll it round-for-round.
    """
    # ``pinned=True``: the caller already holds a DISTINCT,
    # materialized (src, dst, t) edge set (temporal_reach_parts
    # checkpoints it to derive seeds) — skip the kernel's defensive
    # distinct+checkpoint, which would otherwise re-shuffle and
    # re-materialize the identical set once per invocation (round-17).
    if pinned:
        e = edges.select("src", "dst", "t")
    else:
        e = edges.select("src", "dst", "t").distinct().localCheckpoint(eager=True)
    arr = seeds.select(
        F.col("id").alias("node"), F.lit(0).cast("bigint").alias("arr")
    )
    for i in range(rounds):
        dd, ee = arr.alias("d"), e.alias("e")
        grown = dd.join(
            ee,
            (F.col("d.node") == F.col("e.src"))
            & (F.col("e.t") >= F.col("d.arr")),
        ).select(F.col("e.dst").alias("node"), F.col("e.t").alias("arr"))
        arr = (
            arr.unionByName(grown)
            .groupBy("node")
            .agg(F.min("arr").alias("arr"))
        )
        # flatten the plan between rounds: ``arr`` is referenced TWICE
        # per round (frontier join + union), so left lazy the logical
        # tree doubles per round and Catalyst planning time goes
        # exponential in ``rounds`` (round-17 event-log measurement:
        # ~0.9s of the entry's 2.5s was driver planning gaps). The
        # LAZY checkpoint cuts lineage without a blocking per-round
        # job — materialization rides the next consumer.
        if i < rounds - 1:
            arr = arr.localCheckpoint(eager=False)
    return arr


def varlength_min_hops(edges: DataFrame, max_hops: int = 3) -> DataFrame:
    """Cypher variable-length traversal ``-[*1..k]->`` as a DataFrame
    program: (src, dst, hops) for every ordered pair connected by a
    directed path of ≤ ``max_hops`` edges, with hops = the MINIMUM
    path length (Cypher's shortest-match semantics for bounded
    var-length patterns; reference surface: Neo4j's ``[*1..3]``).

    Frontier expansion: round h composes the (h-1)-frontier with the
    edge list and anti-joins away pairs already reached — each round
    is one equi-join plus one left_anti on the accumulated pair set,
    both broadcastable while frontiers are bounded; self-pairs are
    excluded (a cycle back to the start is reachability, not a new
    pair). At 100 TB this is k chained shuffles on the node key —
    the same envelope as the fixed k-hop entries, emitted per-hop so
    the result carries the hop distance the fixed joins lose.
    """
    e = edges.select("src", "dst").distinct().localCheckpoint(eager=True)
    frontier = e.filter(F.col("src") != F.col("dst"))
    out = frontier.withColumn("hops", F.lit(1).cast("bigint"))
    for h in range(2, max_hops + 1):
        nxt = (
            frontier.select("src", F.col("dst").alias("mid"))
            .join(e.select(F.col("src").alias("mid"), "dst"), "mid")
            .select("src", "dst")
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            # `out` doubles as the seen-pair set: every reached pair is
            # in it with its minimal hop, so one accumulator suffices
            .join(out.select("src", "dst"), ["src", "dst"], "left_anti")
            # LAZY (round-18): the frontier is referenced twice (the
            # out-union and the next hop's compose) but no driver
            # decision reads it per hop — the lazy cut caches on first
            # materialization inside the final readout job instead of
            # paying an eager blocking job per hop
            .localCheckpoint(eager=False)
        )
        out = out.unionByName(nxt.withColumn("hops", F.lit(h).cast("bigint")))
        frontier = nxt
    return out


def dag_longest_paths(edges: DataFrame, doublings: int = 6) -> DataFrame:
    """Longest-path layer per node of a DAG: (id, layer) where layer =
    the maximum number of edges on any path ENDING at the node (sources
    get 0) — the critical-path / topological-depth quantity schedulers
    ask of a dependency graph.

    Max-plus reachability doubling (the tropical-semiring twin of
    strongly_connected_components' boolean closure): r₀ = edges@1 ∪
    identity@0; each squaring composes r∘r summing lengths and keeps
    the MAX length per (u,w) pair, so after d doublings every path of
    ≤ 2^d edges is covered; layer(v) = max over u of len(u,v).
    Terminates because a DAG has no positive cycles (run it on the SCC
    condensation of a general digraph). Same scale envelope as the
    boolean closure: O(n²) pairs — exact for bounded subgraphs; the
    billion-node path is topological peeling (iteratively remove
    zero-in-degree nodes, k_core's per-round shape).
    """
    e = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    rel = (
        e.select(
            F.col("src").alias("u"),
            F.col("dst").alias("w"),
            F.lit(1).cast("bigint").alias("len"),
        )
        .unionByName(
            nodes.select(
                F.col("id").alias("u"),
                F.col("id").alias("w"),
                F.lit(0).cast("bigint").alias("len"),
            )
        )
    )
    for _ in range(doublings):
        a = rel.select("u", F.col("w").alias("mid"), F.col("len").alias("la"))
        b = rel.select(F.col("u").alias("mid"), "w", F.col("len").alias("lb"))
        composed = a.join(b, "mid").select(
            "u", "w", (F.col("la") + F.col("lb")).alias("len")
        )
        rel = (
            rel.unionByName(composed)
            .groupBy("u", "w")
            .agg(F.max("len").alias("len"))
            # LAZY: rel is referenced three times per doubling (a, b,
            # union), so lineage must be cut — but there is no
            # per-round driver decision here, so the cut needs no
            # blocking job either (the bellman/temporal treatment,
            # round-17); the final readout materializes the chain
            .localCheckpoint(eager=False)
        )
    return rel.groupBy(F.col("w").alias("id")).agg(
        F.max("len").alias("layer")
    )


def aggregate_messages(
    vertices: DataFrame,
    edges: DataFrame,
    msg_to_src=None,
    msg_to_dst=None,
    aggs=None,
):
    """GraphFrames' second core primitive (``aggregateMessages``),
    DataFrame-first: build the triplet view (``src``/``edge``/``dst``
    struct columns), evaluate the message expressions once per edge,
    address them to the src / dst vertex, and aggregate all messages
    per vertex.

    - ``vertices``: must expose ``id`` (+ any attribute columns).
    - ``edges``: must expose ``src``/``dst`` (+ attribute columns).
    - ``msg_to_src`` / ``msg_to_dst``: Column expressions over the
      triplet columns (``F.col("dst.attr")``, ``F.col("edge.w")`` — the
      same surface as GraphFrames' AM.src/AM.dst/AM.edge). Either may
      be None.
    - ``aggs``: list of aggregate Columns over the message column
      ``msg`` (default ``[F.sum("msg").alias("agg_msg")]``).

    Scale: the triplet view is two equi-joins of the edge list against
    the vertex table (Catalyst broadcasts vertex attrs while they fit;
    at 100 TB pre-bucket both on the join key), message evaluation is
    map-side, and the per-vertex aggregation is ONE shuffle keyed on
    vertex id with map-side partial aggregation — the same shape every
    round of PageRank/LPA here compiles to.
    """
    if msg_to_src is None and msg_to_dst is None:
        raise ValueError("at least one of msg_to_src / msg_to_dst required")
    if aggs is None:
        aggs = [F.sum("msg").alias("agg_msg")]
    v_src = vertices.select(
        F.col("id").alias("__sid"),
        F.struct(*[F.col(c) for c in vertices.columns]).alias("src"),
    )
    v_dst = vertices.select(
        F.col("id").alias("__did"),
        F.struct(*[F.col(c) for c in vertices.columns]).alias("dst"),
    )
    trip = (
        edges.select(
            F.col("src").alias("__sid"),
            F.col("dst").alias("__did"),
            F.struct(*[F.col(c) for c in edges.columns]).alias("edge"),
        )
        .join(v_src, "__sid")
        .join(v_dst, "__did")
    )
    parts = []
    if msg_to_src is not None:
        parts.append(
            trip.select(
                F.col("__sid").alias("id"), msg_to_src.alias("msg")
            )
        )
    if msg_to_dst is not None:
        parts.append(
            trip.select(
                F.col("__did").alias("id"), msg_to_dst.alias("msg")
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.groupBy("id").agg(*aggs)


def strongly_connected_components_fbtrim(
    edges: DataFrame, max_rounds: int = 64, checkpoint: bool = True
) -> DataFrame:
    """Exact SCC via FORWARD-BACKWARD decomposition with trimming — the
    billion-node alternative to ``strongly_connected_components``'s
    reachability-doubling closure (round 13; the closure docstring and
    SCALE.md named this path, this implements it). Same contract:
    (id, scc_id) with scc_id = min node id in the SCC, self-loop-only
    nodes absent (the shared node-universe caveat).

    Algorithm (FW-BW-Trim — Fleischer/Hendrickson/Pinar 2000, the
    standard data-parallel SCC; McLendon et al. add the trim step):
    maintain a PARTITION label per unassigned node; each round, on
    every partition in parallel:

    - TRIM to fixpoint: a node with no in-edge or no out-edge inside
      its partition is a singleton SCC (nothing can cycle through it)
      — assign and drop. This alone consumes entire DAGs.
    - PIVOT: the minimum node id per partition (deterministic — no
      sampling, so results are reproducible across retries).
    - Frontier BFS BOTH directions from the pivot, edges restricted to
      the partition: F = reachable-from, B = reaching. F ∩ B IS the
      pivot's SCC, and its min id is the pivot itself (the pivot is
      the partition's global min). Assign.
    - The survivors split into F∖B / B∖F / neither — no SCC spans two
      of these classes, so they recurse as THREE new partitions
      (part' = 3·part + class).

    Scale shape: every step is an edges⋈labels equi-join or a groupBy
    — the label_propagation per-round shape, no O(n²) closure relation
    anywhere; state is one row per node + the active edge list.
    Expected O(log n) rounds on random graphs (each pivot's F and B
    cover constant fractions in expectation); the worst case (a chain
    of 2-cycles) degrades to O(n) rounds, bounded by ``max_rounds``
    (raises rather than returning partial labels). Driver work is one
    emptiness check per BFS hop and per round — counters, never data.

    Differential-tested against the Tarjan reference and the closure
    variant on random digraphs (tests/test_graph_algos.py), including
    the shared-ancestor/descendant counterexample that breaks
    single-pass FW-BW min-label coloring — the per-partition pivot
    recursion does not have that failure mode.
    """
    e0 = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    if checkpoint:
        e0 = e0.localCheckpoint(eager=True)
    state = (
        e0.select(F.col("src").alias("id"))
        .unionByName(e0.select(F.col("dst").alias("id")))
        .distinct()
        .withColumn("part", F.lit(0).cast("long"))
    )
    if checkpoint:
        state = state.localCheckpoint(eager=True)
    done_parts: list[DataFrame] = []
    spark = edges.sparkSession

    def _pin(df: DataFrame) -> DataFrame:
        return df.localCheckpoint(eager=True) if checkpoint else df

    def _active_edges(st: DataFrame) -> DataFrame:
        s = st.select(F.col("id").alias("src"), F.col("part"))
        d = st.select(F.col("id").alias("dst"), F.col("part").alias("_pd"))
        return (
            e0.join(s, "src")
            .join(d, "dst")
            .filter(F.col("part") == F.col("_pd"))
            .select("src", "dst", "part")
        )

    def _reach(ae: DataFrame, piv: DataFrame, forward: bool) -> DataFrame:
        """(part, id) reachable from the partition pivot along (fwd) or
        against (bwd) the partition-restricted edges."""
        visited = _pin(piv.select("part", F.col("pid").alias("id")))
        frontier = visited
        a, b = ("src", "dst") if forward else ("dst", "src")
        while True:
            step = (
                ae.join(
                    frontier.select(
                        F.col("id").alias(a), F.col("part").alias("_fp")
                    ),
                    on=a,
                )
                .filter(F.col("part") == F.col("_fp"))
                .select("part", F.col(b).alias("id"))
                .distinct()
                .join(visited, ["part", "id"], "left_anti")
            )
            step = _pin(step)
            if step.isEmpty():
                return visited
            visited = _pin(visited.unionByName(step))
            frontier = step

    for _ in range(max_rounds):
        if state.isEmpty():
            break
        # TRIM to fixpoint
        while True:
            ae = _active_edges(state)
            alive = (
                ae.select(F.col("src").alias("id"))
                .intersect(ae.select(F.col("dst").alias("id")))
                .distinct()
            )
            trivial = state.join(alive, "id", "left_anti")
            trivial = _pin(trivial)
            if trivial.isEmpty():
                break
            done_parts.append(
                trivial.select("id", F.col("id").alias("scc_id"))
            )
            state = _pin(state.join(trivial.select("id"), "id", "left_anti"))
        if state.isEmpty():
            break
        ae = _pin(_active_edges(state))
        piv = _pin(state.groupBy("part").agg(F.min("id").alias("pid")))
        fset = _reach(ae, piv, forward=True)
        bset = _reach(ae, piv, forward=False)
        members = fset.join(bset, ["part", "id"])
        done_parts.append(
            _pin(members.join(piv, "part").select("id", F.col("pid").alias("scc_id")))
        )
        inf = fset.select("part", "id", F.lit(True).alias("_f"))
        inb = bset.select("part", "id", F.lit(True).alias("_b"))
        survivors = (
            state.join(members.select("part", "id"), ["part", "id"], "left_anti")
            .join(inf, ["part", "id"], "left")
            .join(inb, ["part", "id"], "left")
            .select(
                "id",
                "part",
                F.when(F.col("_f").isNotNull(), F.lit(0))
                .when(F.col("_b").isNotNull(), F.lit(1))
                .otherwise(F.lit(2))
                .alias("_cls"),
            )
        )
        # relabel every (part, class) group by its MIN NODE ID: the
        # obvious dense encoding part' = 3·part + class grows as
        # 3^round and overflows int64 by round ~40 — inside the default
        # budget, and ANSI Spark raises mid-job instead of the
        # documented convergence error (round-13 review). Min-id labels
        # are unique per group (groups partition the node set), stay
        # inside the id domain at ANY round count, and cost one
        # tiny-group aggregation + join per round.
        relabel = survivors.groupBy("part", "_cls").agg(
            F.min("id").alias("_newpart")
        )
        state = _pin(
            survivors.join(relabel, ["part", "_cls"]).select(
                "id", F.col("_newpart").alias("part")
            )
        )
    else:
        if not state.isEmpty():
            raise ValueError(
                f"fbtrim SCC did not converge in {max_rounds} rounds "
                "(adversarial chain-of-cycles topology?); raise max_rounds"
            )
    out = done_parts[0] if done_parts else local_rel(
        spark, [], "id long, scc_id long"
    )
    for p in done_parts[1:]:
        out = out.unionByName(p)
    return out
