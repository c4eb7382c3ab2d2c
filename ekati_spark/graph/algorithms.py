"""Analytics-scale graph algorithms as Pregel-style DataFrame iteration.

The reference has no analytics surface (its only traversal is the bounded
``follow`` pipeline, ``src/core/FileStore.fs:166-220``); these extend the
engine per the GraphX-for-analytics design (SURVEY.md §1.5): the vertex
state is a DataFrame and each superstep is a join-aggregate against the
edge table. One function, ``supersteps``, carries every kernel's
iteration (Pregelix's superstep operator): a kernel is only its step
body, and ``supersteps`` owns the round loop, the eager lineage cut of
each round's state, the early exit and the round budget. Cutting every
round matters — vertex state is O(|V|), small next to the edge table,
and the cut stops the lazy plan from re-deriving every earlier
superstep (see graph/traverse.py for the same pattern).

Scale: state and edges stay distributed, but each superstep re-shuffles
the edge table today — nothing co-partitions the edges with the vertex
state; that is open in ROADMAP.md direction 2. No collect() of vertex
state; the only driver-side values are scalar probes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ekati_spark.checkpoint import cut_lineage


def supersteps(kernel, state, step, rounds, *, halt=None, strict=False):
    """Run ``step`` for up to ``rounds`` supersteps; return the last state.

    ``step(state, r)`` is the kernel's superstep ``r`` (1-based). A plain
    step returns the next state as one DataFrame, which is cut here. A
    step that materializes more than once per round is a generator: each
    frame it yields is cut here and sent back, and its return value
    (a frame, a tuple, ...) is the next state.

    ``halt(state, frame)`` reads the round's first cut frame — the new
    state, or the new frontier — against the previous state. True ends
    the run with the previous state, which the round showed to be final.
    With no ``halt`` the run is exactly ``rounds`` supersteps. Otherwise
    the budget is one of two kinds:

    - default: the bound is part of the result's meaning (a hop limit),
      so running out of rounds is quiet;
    - ``strict``: the kernel runs to a fixpoint. A change on the last
      budgeted round may itself be the fixpoint, so one spare superstep
      confirms it; if that one still does not halt, the result would be
      silently partial, and this raises ``RuntimeError`` naming the
      kernel.
    """
    for r in range(1, rounds + 1 + strict):
        body = _body(step(state, r))
        frame = next(body).transform(cut_lineage)
        if halt is not None and halt(state, frame):
            return state
        if r > rounds:
            raise RuntimeError(
                f"{kernel}: still changing after {rounds} supersteps and one "
                "confirming superstep; raise its round budget"
            )
        try:
            while True:
                frame = body.send(frame).transform(cut_lineage)
        except StopIteration as end:
            state = end.value
    return state


def _body(result):
    """A step's result as a generator; a plain frame is a single yield."""
    if isinstance(result, DataFrame):
        return (yield result)
    return (yield from result)


def _empty(_, frontier: DataFrame) -> bool:
    return frontier.isEmpty()


def _unchanged(sig):
    """Halt probe: the round changed nothing when ``sig`` of its new frame
    equals the previous state's. Each frame's ``sig`` runs once."""
    last = [None, None]  # the newest frame and its sig

    def halt(prev, new):
        before = last[1] if last[0] is prev else sig(prev)
        last[:] = new, sig(new)
        return last[1] == before

    return halt


def _nodes(edges: DataFrame) -> DataFrame:
    return (
        edges.select(F.col("src").alias("node_id"))
        .unionByName(edges.select(F.col("dst").alias("node_id")))
        .distinct()
    )


def _out_edges(edges: DataFrame) -> DataFrame:
    """``(src, dst, deg)``: out-degree rides with each edge, so a rank
    superstep is join → groupBy; cut because every superstep reads it."""
    return (
        edges.select("src", "dst")
        .join(edges.groupBy("src").agg(F.count("*").alias("deg")), "src")
        .transform(cut_lineage)
    )


def _in_sums(ranks: DataFrame, ed: DataFrame, total) -> DataFrame:
    """``(dst, in_sum)``: each node's incoming rank/out-degree mass,
    summed by ``total`` over the column ``c``."""
    return (
        ranks.join(ed, ranks.node_id == ed.src)
        .select("dst", (F.col("rank") / F.col("deg")).alias("c"))
        .groupBy("dst")
        .agg(total.alias("in_sum"))
    )


def page_rank(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """PageRank with a fixed iteration count (simple variant: dangling
    mass is not redistributed, matching the SQL-oracle formulation).

    rank⁰(v) = 1/N; rankᵏ(v) = (1-d)/N + d·Σ_{u→v} rankᵏ⁻¹(u)/out(u).

    Returns ``(node_id, rank)``. One shuffle per superstep (groupBy dst);
    the contribution join reuses the checkpointed (edges ⋈ out-degree)
    relation across supersteps.
    """
    nodes = _nodes(edges).transform(cut_lineage)
    n = nodes.count()
    ed = _out_edges(edges)

    def step(ranks, _):
        contribs = _in_sums(ranks, ed, F.sum("c"))
        return nodes.join(
            contribs, nodes.node_id == contribs.dst, "left"
        ).select(
            "node_id",
            (
                F.lit((1.0 - damping) / n)
                + F.lit(damping) * F.coalesce(F.col("in_sum"), F.lit(0.0))
            ).alias("rank"),
        )

    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    return supersteps("page_rank", ranks, step, iterations)


def connected_components(
    edges: DataFrame, max_iter: int = 20, require_converged: bool = True
) -> DataFrame:
    """Weakly connected components by iterative min-label propagation over
    the undirected edge set; converges in ≤ diameter supersteps (the run
    ends early when no label changes). Label = min node_id (string
    order) in the component.

    Returns ``(node_id, component)``. For graphs with giant diameter an
    alternating small-star/large-star formulation converges in
    O(log²) rounds — use ``connected_components_star`` there; min-label
    propagation is for FK-shaped graphs whose diameter is bounded by the
    schema's join depth.

    ``require_converged`` (default True) makes budget exhaustion LOUD
    (a ``strict`` budget): labels still changing after ``max_iter``
    supersteps and the confirming one raise, instead of returning labels
    that are wrong on any graph whose diameter exceeds the budget. Pass
    False only when a bounded-propagation view of at most ``max_iter``
    supersteps is genuinely wanted.
    """
    und = (
        edges.select("src", "dst")
        .unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .transform(cut_lineage)
    )
    labels = _nodes(edges).withColumn("component", F.col("node_id"))
    labels = labels.transform(cut_lineage)

    def step(cur, _):
        neighbor_min = (
            cur.join(und, cur.node_id == und.src)
            .groupBy(F.col("dst").alias("node_id"))
            .agg(F.min("component").alias("nbr_min"))
        )
        return cur.join(neighbor_min, "node_id", "left").select(
            "node_id",
            F.least(
                F.col("component"), F.coalesce("nbr_min", "component")
            ).alias("component"),
        )

    def settled(cur, new):
        changed = (
            new.join(cur.withColumnRenamed("component", "old"), "node_id")
            .filter(F.col("component") != F.col("old"))
            .count()
        )
        return changed == 0

    return supersteps(
        "connected_components", labels, step, max_iter,
        halt=settled, strict=require_converged,
    )


def shortest_hops(
    edges: DataFrame, seeds: DataFrame, max_hops: int
) -> DataFrame:
    """Single/multi-source shortest path length in hops (unweighted BFS).

    Returns ``(node_id, hops)`` for every node within ``max_hops`` of any
    seed (seeds at 0): ``multi_source_hops`` with all seeds sharing one
    search, so a node's distance is to its nearest seed.
    """
    return _bfs(edges, seeds.select("node_id"), max_hops)


def multi_source_hops(
    edges: DataFrame, seeds: DataFrame, max_hops: int
) -> DataFrame:
    """Per-seed BFS distances: ``(seed, node_id, hops)`` for every node
    within ``max_hops`` of each seed (seeds at 0).

    All k seeds ride ONE iterative join — the frontier carries the seed
    id, so the cost is k× the frontier rows, not k passes over the edge
    table. This is the sampled-centrality shape (Eppstein-Wang): exact
    distances from a deterministic seed sample, aggregated downstream
    into closeness/harmonic estimates, instead of the all-pairs BFS
    that cannot exist at 100 TB."""
    starts = seeds.select(F.col("node_id").alias("seed"), "node_id")
    return _bfs(edges, starts, max_hops)


def _bfs(edges: DataFrame, starts: DataFrame, max_hops: int) -> DataFrame:
    """Level-synchronous BFS from ``starts``: ``node_id`` plus the columns
    that label each search (none: one search from every start). The
    frontier and visited discipline is the same as ``traverse.follow``:
    a per-search anti-join against everything reached so far, so hop
    order gives each node its min distance; an empty frontier ends the
    run. Per-seed searches cut their reached set every hop; one search
    reads the union of its cut frontiers. Returns ``starts``' columns
    plus ``hops``."""
    keys = starts.columns
    labels = [c for c in keys if c != "node_id"]
    frontier = starts.distinct().transform(cut_lineage)

    def hop(state, r):
        frontier, reached = state
        frontier = yield (
            frontier.join(edges, frontier.node_id == edges.src)
            .select(*labels, F.col("dst").alias("node_id"))
            .distinct()
            .join(reached, keys, "left_anti")
        )
        reached = reached.unionByName(frontier.withColumn("hops", F.lit(r)))
        if labels:
            # k searches' reached sets grow k-fold and every hop's
            # anti-join re-reads them: cut, as the frontier
            reached = yield reached
        return frontier, reached

    start = (frontier, frontier.withColumn("hops", F.lit(0)))
    _, reached = supersteps(
        "multi_source_hops", start, hop, max_hops, halt=_empty
    )
    return reached


def _symmetrize(edges: DataFrame) -> DataFrame:
    return (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .unionByName(
            edges.select(F.col("dst").alias("u"), F.col("src").alias("v"))
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star (Kiveris et al., 'Connected Components in MapReduce
    and Beyond', SoCC'14): view each edge from both endpoints; per node
    u, connect every strictly-larger neighbor to the minimum of u's
    closed neighborhood."""
    sym = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct()
    m = sym.groupBy("u").agg(
        F.least(F.min("v"), F.first("u")).alias("m")
    )
    return (
        sym.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star: orient every edge toward the smaller endpoint (key =
    max, value = min), then per node connect all its ≤-neighbors and
    itself to the neighborhood minimum."""
    oriented = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).distinct()
    m = oriented.groupBy("u").agg(F.min("v").alias("m"))
    attach = (
        oriented.join(m, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    self_edge = m.select("u", F.col("m").alias("v"))
    return (
        attach.unionByName(self_edge)
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _star_sig(e: DataFrame):
    """Set signature of a canonical-deduped edge set: set equality ⟺
    equal counts + equal order-free hash-sum. One 2-column aggregate job
    per round, vs exceptAll's full set-difference shuffle (measured
    23.3 s → 11.6 s on g50's sf0.01 verify)."""
    return e.agg(
        F.count("*").alias("n"),
        # decimal accumulation: long-sum of 64-bit hashes overflows
        # under ANSI mode; decimal(38,0) holds ~10^18 rows' worth
        F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
    ).first()


def connected_components_star(
    edges: DataFrame, max_iter: int = 20
) -> DataFrame:
    """Weakly connected components by alternating large-star / small-star
    (Kiveris et al.) — converges in O(log² n) rounds independent of graph
    diameter, unlike min-label propagation's O(diameter)
    (``connected_components``). Use this for path-shaped / high-diameter
    graphs at scale; both return ``(node_id, component)`` with component
    = min node_id (string order) in the component. O(log² n) rounds
    means 20 covers any conceivable n, so running out of the budget is a
    logic/data anomaly and raises.
    """
    nodes = _nodes(edges).transform(cut_lineage)
    e = supersteps(
        "connected_components_star",
        _symmetrize(edges).transform(cut_lineage),
        lambda e, _: _small_star(_large_star(e)),
        max_iter,
        halt=_unchanged(_star_sig),
        strict=True,
    )
    # at the fixed point the edges form stars: node → its component root
    comp = e.groupBy("u").agg(F.min("v").alias("component")).select(
        F.col("u").alias("node_id"), "component"
    )
    return (
        nodes.join(comp, "node_id", "left")
        .select(
            "node_id",
            F.coalesce("component", "node_id").alias("component"),
        )
    )


def personalized_page_rank(
    edges: DataFrame,
    sources: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Personalized PageRank: teleport mass returns to the source set
    (uniformly over sources) instead of all nodes — the standard
    relevance-to-seed measure for recommendation / local community
    scoring. Same superstep shape as ``page_rank``; the reset vector is a
    broadcast-joined indicator column.
    """
    nodes = _nodes(edges).transform(cut_lineage)
    src = sources.select("node_id").distinct().transform(cut_lineage)
    n_src = src.count()
    base = nodes.join(
        src.withColumn("__is_src", F.lit(True)), "node_id", "left"
    ).select(
        "node_id",
        F.when(F.col("__is_src"), F.lit(1.0 / n_src))
        .otherwise(F.lit(0.0))
        .alias("reset"),
    ).transform(cut_lineage)
    ed = _out_edges(edges)
    # decimal accumulation: the double quotients are quantized to 18
    # decimals (a deterministic per-value cast) and summed exactly, so
    # in_sum doesn't depend on partition/merge order — same policy as
    # queries/base.py::dsum, and what lets the unrolled-CTE oracle (g25)
    # match bit-for-bit.
    total = F.sum(F.col("c").cast("decimal(25,18)")).cast("double")

    def step(ranks, _):
        contribs = _in_sums(ranks, ed, total)
        return base.join(contribs, base.node_id == contribs.dst, "left").select(
            "node_id",
            (
                (1.0 - damping) * F.col("reset")
                + F.lit(damping) * F.coalesce(F.col("in_sum"), F.lit(0.0))
            ).alias("rank"),
        )

    ranks = base.select("node_id", F.col("reset").alias("rank"))
    return supersteps("personalized_page_rank", ranks, step, iterations)


def k_core(edges: DataFrame, k: int, max_iter: int = 200) -> DataFrame:
    """The k-core: the maximal subgraph where every node has degree ≥ k
    (undirected, dedup-ed edges). Iterative peeling: drop nodes with
    degree < k, recompute degrees on the induced subgraph, repeat to
    fixpoint. Peel rounds are bounded by the peeling DEPTH of the graph
    (O(n) worst case on path-shaped graphs — NOT by the degeneracy), so
    non-convergence within ``max_iter`` raises rather than silently
    returning a subgraph that still contains low-degree nodes.

    Returns ``(node_id, degree)`` for surviving nodes with their
    within-core degree. Reference analog: none (Astn/ekati has no
    analytics kernels); part of the graph-analytics extension.
    """

    def peel(e, _):
        deg = e.groupBy("u").agg(F.count("*").alias("degree"))
        keep = deg.filter(F.col("degree") >= k).select("u")
        return (
            e.join(keep, "u")
            .join(keep.withColumnRenamed("u", "v"), "v")
            .select("u", "v")
        )

    e = supersteps(
        "k_core", _symmetrize(edges).transform(cut_lineage), peel, max_iter,
        halt=_unchanged(DataFrame.count), strict=True,
    )
    return e.groupBy(F.col("u").alias("node_id")).agg(
        F.count("*").alias("degree")
    )


def label_propagation(edges: DataFrame, iterations: int = 3) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007) made deterministic: each superstep every node adopts
    the most frequent label among its neighbors, ties broken by the
    lexicographically smallest label (the usual random tie-break would
    not be oracle-checkable). Undirected via ``_symmetrize``, so every
    node votes and is voted for; a fixed ``iterations`` keeps the
    result well-defined (synchronous LPA can oscillate on bipartite
    structures rather than converge).

    Per superstep: one shuffle join (neighbor labels), one partial-agg
    count shuffle, one window for the arg-max — all on node keys, so a
    1000-executor run co-partitions each stage; per-step state is
    O(|V|). Reference analog: none (Astn/ekati has no analytics
    kernels).

    Returns ``(node_id, community)``.
    """
    from pyspark.sql import Window as W

    e = _symmetrize(edges).transform(cut_lineage)
    w = W.partitionBy("u").orderBy(F.desc("c"), F.asc("community"))

    def step(labels, _):
        votes = (
            e.join(labels, e["v"] == labels["node_id"])
            .groupBy(e["u"], "community")
            .agg(F.count("*").alias("c"))
        )
        return (
            votes.select(
                "u", "community", F.row_number().over(w).alias("rn")
            )
            .filter(F.col("rn") == 1)
            .select(F.col("u").alias("node_id"), "community")
        )

    labels = (
        e.select(F.col("u").alias("node_id"))
        .distinct()
        .select("node_id", F.col("node_id").alias("community"))
    )
    return supersteps("label_propagation", labels, step, iterations)


def _label_correcting(kernel, edges, start, col, on, value, rounds, strict):
    """Label-correcting relaxation from the cut ``(node_id, <col>)``
    ``start`` labels: per round, expand the nodes whose label improved
    last round through the edges the join predicate ``on`` admits,
    min-combine ``value`` per target, and keep only strict improvements.
    ``on`` and ``value`` address the frontier as ``f`` and the edges as
    ``e``. Pruning to improved nodes is safe because a node's unchanged
    label was already propagated the round after it last improved; an
    empty frontier ends the run."""

    def relax(state, _):
        frontier, best = state
        f, e = frontier.alias("f"), edges.alias("e")
        nxt = (
            f.join(e, on)
            .groupBy(F.col("e.dst").alias("node_id"))
            .agg(F.min(value).alias(col))
        )
        improved = yield (
            nxt.join(best.withColumnRenamed(col, "old"), "node_id", "left")
            .filter(F.col("old").isNull() | (F.col(col) < F.col("old")))
            .select("node_id", col)
        )
        best = yield (
            best.unionByName(improved)
            .groupBy("node_id")
            .agg(F.min(col).alias(col))
        )
        return improved, best

    _, best = supersteps(
        kernel, (start, start), relax, rounds, halt=_empty, strict=strict
    )
    return best


def weighted_shortest_paths(
    edges: DataFrame, seeds: DataFrame, max_hops: int
) -> DataFrame:
    """Bounded multi-source Bellman-Ford: ``(node_id, cost)`` with the
    minimum total edge cost over paths of at most ``max_hops`` edges
    from any seed (seeds at cost 0). ``edges`` is ``(src, dst, cost)``.

    Frontier-pruned relaxation (``_label_correcting``) preserves the
    round-k invariant dist_k = min cost over <= k-edge paths; the hop
    bound is part of that meaning, so it stops quietly. Costs stay
    integral (long), so min() is exact — no float path-sum ordering
    issues.
    """
    dist = (
        seeds.select("node_id")
        .distinct()
        .withColumn("cost", F.lit(0).cast("long"))
        .transform(cut_lineage)
    )
    return _label_correcting(
        "weighted_shortest_paths", edges, dist, "cost",
        on=F.col("f.node_id") == F.col("e.src"),
        value=F.col("f.cost") + F.col("e.cost"),
        rounds=max_hops, strict=False,
    )


def earliest_arrival(
    edges: DataFrame, seeds: DataFrame, max_rounds: int = 60
) -> DataFrame:
    """Earliest-arrival reachability over a TEMPORAL graph (Holme &
    Saramäki): ``edges`` are ``(src, dst, t)`` contact events, and a
    path may leave a node only at a strictly later time than it
    arrived — the time-respecting-path semantics that static
    reachability (g22) cannot express (u→v at t=5 then v→w at t=3 is
    NOT a path).

    Label-correcting iteration (``_label_correcting``) over time-valid
    edges. Earliest-arrival dominance (arriving earlier never removes
    options) makes per-node min a safe prune, so the fixpoint equals the
    min over the full closure — which is what the oracle computes. State
    is (node, best_t) — O(|V|), distributed; rounds ≤ the longest
    strictly-time-increasing chain, and a chain longer than
    ``max_rounds`` raises instead of returning partial arrivals.

    ``seeds``: ``(node_id, t0)`` rows (t0 = just before the horizon of
    interest). Returns ``(node_id, t)`` earliest arrivals incl. seeds.
    """
    best = seeds.select(
        "node_id", F.col("t0").alias("t")
    ).transform(cut_lineage)
    return _label_correcting(
        "earliest_arrival", edges, best, "t",
        on=(F.col("f.node_id") == F.col("e.src"))
        & (F.col("e.t") > F.col("f.t")),
        value=F.col("e.t"),
        rounds=max_rounds, strict=True,
    )


def k_truss(edges: DataFrame, k: int, max_iter: int = 40) -> DataFrame:
    """k-truss: the maximal subgraph whose every edge closes ≥ k-2
    triangles WITHIN the subgraph — the edge-granularity community
    core (Cohen 2008), strictly stronger than k-core's node-degree
    peel (every k-truss edge sits in a (k-1)-core, not conversely).

    ``edges``: undirected, canonical ``(u, v)`` with u < v. Iterative
    simultaneous peel: per round, count each edge's triangle support
    via the common-neighbor self-join over the current survivor set,
    drop every edge below k-2, repeat to fixpoint (the simultaneous
    peel converges to the unique maximal truss regardless of order).
    Returns the surviving ``(u, v)`` edges; a peel deeper than
    ``max_iter`` raises.

    Scale shape: support counting is the oriented triangle join (cost
    Σ deg² over the CURRENT set — shrinking every round); survivor
    state is the edge list; the driver sees only the per-round count.
    Rounds ≤ peel depth (single digits on real graphs)."""

    def peel(e, _):
        sym = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        a, b = sym.alias("a"), sym.alias("b")
        supported = (
            e.alias("t")
            .join(a, F.col("a.u") == F.col("t.u"))
            .join(
                b,
                (F.col("b.u") == F.col("t.v"))
                & (F.col("b.v") == F.col("a.v")),
            )
            .groupBy(F.col("t.u").alias("u"), F.col("t.v").alias("v"))
            .agg(F.count("*").alias("s"))
            .filter(F.col("s") >= k - 2)
            .select("u", "v")
        )
        return e.join(supported, ["u", "v"], "left_semi")

    return supersteps(
        "k_truss", edges.select("u", "v").transform(cut_lineage), peel,
        max_iter, halt=_unchanged(DataFrame.count), strict=True,
    )


def boruvka_msf(
    edges: DataFrame, max_rounds: int = 8, jump_rounds: int = 6
) -> DataFrame:
    """Maximum spanning forest via Borůvka hooking — THE distributed
    MST algorithm (each round every component picks its best incident
    edge and components contract; ≤ log2(V) rounds, each a constant
    number of edge-keyed joins — Prim/Kruskal are inherently
    sequential and never distribute).

    ``edges`` is undirected ``(u, v, wkey)`` with DISTINCT wkey
    (max-spanning: picks the LARGEST wkey; distinct keys make the MSF
    unique, so any correct MST algorithm — e.g. the oracle's Prim
    replay — produces the identical edge set). Returns the forest
    edges ``(u, v, wkey)`` plus the final ``comp`` labels via the
    second element of the returned tuple.

    Hooking details: the per-component argmax is one ``max(struct)``
    aggregate; the hook graph (component → other endpoint's component)
    has only 2-cycles (mutual best pairs — a longer cycle would need
    equal weights), broken by pointing the smaller id at itself;
    pointer jumping (``jump_rounds`` doublings, 2^6 = 64 covers any
    chain the contraction can build at ≤ 2^max_rounds components)
    flattens every in-tree to its root in O(log chain) joins. Vertex
    state is O(V); per round cost is a handful of shuffles on comp/
    edge keys — nothing quadratic, nothing driver-side but the
    empty-frontier test. Borůvka halves the component count per round,
    so cross-component edges left after ``max_rounds`` mean an
    under-sized budget, and the run raises rather than return a
    non-spanning forest."""
    nodes = (
        edges.select(F.col("u").alias("node"))
        .unionByName(edges.select(F.col("v").alias("node")))
        .distinct()
    )
    comp = nodes.select(
        "node", F.col("node").alias("comp")
    ).transform(cut_lineage)

    def jump(lab, _):
        j = lab.select(F.col("c").alias("jc"), F.col("t").alias("jt"))
        return lab.join(j, F.col("t") == F.col("jc"), "left").select(
            "c", F.coalesce("jt", "t").alias("t")
        )

    def hook(state, _):
        comp, forest = state
        cu = comp.select(F.col("node").alias("u"), F.col("comp").alias("cu"))
        cv = comp.select(F.col("node").alias("v"), F.col("comp").alias("cv"))
        # consumed 2x: the halt probe + cand
        ec = yield (
            edges.join(cu, "u").join(cv, "v").filter(F.col("cu") != F.col("cv"))
        )
        cand = ec.select(
            F.col("cu").alias("c"), "wkey", "u", "v", F.col("cv").alias("t")
        ).unionByName(
            ec.select(
                F.col("cv").alias("c"), "wkey", "u", "v",
                F.col("cu").alias("t"),
            )
        )
        # consumed 3x: chosen + hook sides
        best = yield (
            cand.groupBy("c")
            .agg(F.max(F.struct("wkey", "u", "v", "t")).alias("b"))
            .select(
                "c",
                F.col("b.wkey").alias("wkey"),
                F.col("b.u").alias("u"),
                F.col("b.v").alias("v"),
                F.col("b.t").alias("t"),
            )
        )
        chosen = best.select("u", "v", "wkey").distinct()
        h2 = best.select(F.col("c").alias("t2c"), F.col("t").alias("t2t"))
        lab = (
            best.select("c", "t")
            .join(h2, F.col("t") == F.col("t2c"), "left")
            .select(
                "c",
                F.when(
                    (F.col("t2t") == F.col("c")) & (F.col("c") < F.col("t")),
                    F.col("c"),
                )
                .otherwise(F.col("t"))
                .alias("t"),
            )
        )
        lab = supersteps("boruvka_msf", lab, jump, jump_rounds)
        comp = yield (
            comp.join(
                lab.select(
                    F.col("c").alias("comp"), F.col("t").alias("newc")
                ),
                "comp",
                "left",
            )
            .select("node", F.coalesce("newc", "comp").alias("comp"))
        )
        return comp, chosen if forest is None else forest.unionByName(chosen)

    comp, forest = supersteps(
        "boruvka_msf", (comp, None), hook, max_rounds,
        halt=lambda _, ec: ec.limit(1).count() == 0, strict=True,
    )
    if forest is None:
        forest = edges.select("u", "v", "wkey").limit(0)
    return forest.distinct(), comp
