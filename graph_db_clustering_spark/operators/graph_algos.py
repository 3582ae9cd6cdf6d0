"""Iterative graph algorithms over the vertex/edge DataFrame graph
(operators/graph.Graph) — the "core graph analytics workflow" of the north
star, built Pregel-style: each iteration is one join + one aggregate
(aggregate_messages shape), with localCheckpoint() truncating lineage so a
50-iteration run doesn't build a 50-deep plan.

A vertex program is a join plus a group-by over the vertex and message
relations (Pregelix), so the loops run on three private skeletons:
``_fixpoint`` (a ``_chg``-flagged state per round, one probe job; CC, BFS
and weighted SSSP via ``_min_relax``, label propagation, coreness),
``_power_iteration`` (pagerank, personalized_pagerank) and ``_frontier``
(multi_source_bfs, betweenness' forward phase). Each reports whether it
converged; at the cap the exact algorithms warn or raise, while label
propagation and PageRank stop by contract. k_core (shrinking state) and
the Louvain sweeps keep their own loops.

Scale posture: state per iteration is one row per vertex; messages shuffle
keyed by vertex id (AQE handles skewed hubs); nothing ever materializes on
the driver except the O(1) convergence scalar.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_db_clustering_spark.operators import pins
from graph_db_clustering_spark.operators.graph import EDGE_DST, EDGE_SRC, VERTEX_ID, Graph


def _undirected_edges(edges: DataFrame) -> DataFrame:
    """Both directions of every edge, deduplicated: (src, dst)."""
    fwd = edges.select(F.col(EDGE_SRC).alias("a"), F.col(EDGE_DST).alias("b"))
    return fwd.unionAll(fwd.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()


def _fixpoint(edges: DataFrame, state: DataFrame, step, max_iter: int):
    """Run ``step`` from ``state`` until no row changes or ``max_iter``
    rounds; returns (state, converged). ``step(state)`` builds the next
    state plus a boolean ``_chg`` column: the flag rides the update
    projection, so each round is one lazily checkpointed frame that its
    one-job probe materializes. ``edges`` (the caller's pin) is released
    however the loop ends."""
    try:
        state = state.localCheckpoint(eager=False)
        for _ in range(max_iter):
            upd = step(state).localCheckpoint(eager=False)
            changed = upd.filter(F.col("_chg")).limit(1).count()
            state = upd.drop("_chg")
            if not changed:
                return state, True
        return state, False
    finally:
        edges.unpersist()


def _min_relax(state: DataFrame, msgs: DataFrame, col: str) -> DataFrame:
    """One min-relaxation: ``msgs`` (id, _msg) are aggregated per vertex and
    every vertex of ``state`` (id, col) keeps the smaller of its value and
    its best message (``least`` skips NULLs, so an unreached vertex takes
    the message); ``_chg`` marks a strict improvement."""
    best = msgs.groupBy(VERTEX_ID).agg(F.min("_msg").alias("_msg"))
    cur, m = F.col(col), F.col("_msg")
    return state.join(best, VERTEX_ID, "left").select(
        VERTEX_ID,
        F.least(cur, m).alias(col),
        (m.isNotNull() & (cur.isNull() | (m < cur))).alias("_chg"),
    )


def _warn_at_cap(op: str, max_iter: int) -> None:
    msg = f"{op} stopped at max_iter={max_iter} before its fixpoint; the result may be partial"
    warnings.warn(msg, RuntimeWarning, stacklevel=3)


def connected_components(graph: Graph, max_iter: int = 50) -> DataFrame:
    """Undirected connected components by min-label propagation:
    every vertex starts labeled with its own id; each round it adopts the
    minimum label among itself and its neighbors; fixpoint = components.
    Converges in O(diameter) rounds on the propagation frontier; stopping
    at ``max_iter`` first warns (RuntimeWarning) and returns the partial
    labelling.

    Returns (id, component) where component = min vertex id in the
    component (deterministic canonical label).
    """
    (edges,) = pins.repin("graph_cc", _undirected_edges(graph.edges))

    def step(labels):
        # neighbor's current label, sent to each vertex
        msgs = edges.join(labels, edges["b"] == labels[VERTEX_ID]).select(
            F.col("a").alias(VERTEX_ID), F.col("component").alias("_msg")
        )
        return _min_relax(labels, msgs, "component")

    init = graph.vertices.select(VERTEX_ID, F.col(VERTEX_ID).alias("component"))
    labels, converged = _fixpoint(edges, init, step, max_iter)
    if not converged:
        _warn_at_cap("connected_components", max_iter)
    return labels


def shortest_paths(graph: Graph, sources: DataFrame, max_iter: int = 50) -> DataFrame:
    """Unweighted shortest-path (BFS hop) distances from a set of source
    vertices, undirected. ``sources`` is a DataFrame with an ``id`` column.

    Min-propagation like connected_components, but the propagated label is
    hop count: sources start at 0, every round each vertex takes
    min(own dist, min(neighbor dist) + 1); fixpoint in O(eccentricity)
    rounds (warning at ``max_iter`` like connected_components). Returns
    (id, dist) with dist NULL for unreachable vertices — the multi-source
    form also gives "distance to nearest seed" (label-propagation / BFS
    layering building block).
    """
    (edges,) = pins.repin("graph_bfs", _undirected_edges(graph.edges))
    src = sources.select(VERTEX_ID).distinct().withColumn("dist", F.lit(0))

    def step(state):
        reached = state.filter(F.col("dist").isNotNull())
        msgs = edges.join(reached, edges["b"] == reached[VERTEX_ID]).select(
            F.col("a").alias(VERTEX_ID), (F.col("dist") + 1).alias("_msg")
        )
        return _min_relax(state, msgs, "dist")

    state, converged = _fixpoint(
        edges, graph.vertices.select(VERTEX_ID).join(src, VERTEX_ID, "left"), step, max_iter
    )
    if not converged:
        _warn_at_cap("shortest_paths", max_iter)
    return state


def _power_iteration(graph, family, vertices, extra, init_rank, rank_of, max_iter, tol):
    """The power iteration of pagerank and personalized_pagerank: base =
    (id, deg, *extra) over ``vertices`` is pinned under ``family`` with the
    edges; ranks start at ``init_rank`` (a Column over base) and each round
    become ``rank_of(inflow Column, previous dangling mass)`` until the L1
    change is below ``tol`` or ``max_iter`` rounds. Returns (id, rank)."""
    out_deg = graph.edges.groupBy(F.col(EDGE_SRC).alias(VERTEX_ID)).agg(F.count("*").alias("deg"))
    base, edges = pins.repin(
        family,
        vertices.join(out_deg, VERTEX_ID, "left").select(
            VERTEX_ID, F.coalesce("deg", F.lit(0)).alias("deg"), *extra
        ),
        graph.edges.select(EDGE_SRC, EDGE_DST),
    )
    try:
        ranks = base.select(VERTEX_ID, init_rank.alias("rank")).localCheckpoint(eager=False)
        # dangling mass of the INITIAL ranks (vertices with no out-edges
        # leak their rank) — computed once here; inside the loop the NEXT
        # iteration's dangling mass rides the same aggregate as the
        # convergence delta (3 driver-blocking jobs per iteration -> 1;
        # same addends, so the redistribution is unchanged)
        dangling = (
            ranks.join(base, VERTEX_ID)
            .filter(F.col("deg") == 0)
            .agg(F.sum("rank"))
            .first()[0]
            or 0.0
        )
        inflow = F.coalesce(F.col("inflow"), F.lit(0.0))
        for _ in range(max_iter):
            with_deg = ranks.join(base, VERTEX_ID)
            contribs = (
                edges.join(with_deg, edges[EDGE_SRC] == with_deg[VERTEX_ID])
                .select(F.col(EDGE_DST).alias(VERTEX_ID), (F.col("rank") / F.col("deg")).alias("c"))
                .groupBy(VERTEX_ID)
                .agg(F.sum("c").alias("inflow"))
            )
            # the new-ranks frame keeps the out-degree, so the convergence
            # join below can fold the NEXT iteration's dangling mass into
            # the delta aggregate: one driver-blocking job per iteration (it
            # also materializes the lazy checkpoint) instead of three. NOTE
            # the old-ranks join lives OUTSIDE the checkpointed frame — a
            # checkpoint inherits its origin plan's size estimate, and a
            # rank(t) x rank(t) join inside it would square that estimate
            # every iteration (BigInteger blow-up in stats estimation)
            new_ranks = (
                base.join(contribs, VERTEX_ID, "left")
                .select(VERTEX_ID, rank_of(inflow, dangling).alias("rank"), "deg")
                .localCheckpoint(eager=False)
            )
            row = (
                new_ranks.alias("n")
                .join(ranks.alias("o"), VERTEX_ID)
                .agg(
                    F.sum(F.abs(F.col("n.rank") - F.col("o.rank"))).alias("_delta"),
                    F.sum(F.when(F.col("deg") == 0, F.col("n.rank"))).alias("_dang"),
                )
                .first()
            )
            delta = row["_delta"]
            dangling = row["_dang"] or 0.0
            ranks = new_ranks.select(VERTEX_ID, "rank")
            if delta is not None and delta < tol:
                break
        return ranks
    finally:
        base.unpersist()
        edges.unpersist()


def pagerank(
    graph: Graph,
    damping: float = 0.85,
    max_iter: int = 20,
    tol: float = 1e-6,
) -> DataFrame:
    """Standard PageRank with dangling-mass redistribution.

    Per iteration (all one distributed plan): contribution = rank/degree
    along each out-edge -> sum per destination; dangling vertices' rank is
    redistributed uniformly; stop when total L1 change < tol. Returns
    (id, rank) with sum(rank) == 1.
    """
    v = graph.vertices.select(VERTEX_ID)
    n = v.count()
    if n == 0:
        return v.select(VERTEX_ID, F.lit(0.0).alias("rank"))
    def rank_of(inflow, dangling):
        return F.lit((1.0 - damping) / n) + F.lit(damping) * (inflow + F.lit(dangling / n))

    return _power_iteration(
        graph, "graph_pagerank", v, [], F.lit(1.0 / n), rank_of, max_iter, tol
    )


def personalized_pagerank(
    graph: Graph,
    sources: DataFrame,
    damping: float = 0.85,
    max_iter: int = 30,
    tol: float = 1e-12,
) -> DataFrame:
    """Personalized PageRank: teleport mass returns to the SOURCE set
    instead of everywhere — the "related to these items" ranking a
    recommendation/entity-resolution pipeline runs (Jeh & Widom 2003).

    Same per-iteration plan as `pagerank` (contribution join + inflow
    aggregate, localCheckpoint per round), with two changes: the
    (1-d) teleport and the dangling mass both land uniformly on the
    source vertices only. Mass is conserved at exactly 1 each
    iteration, so on well-connected graphs the error contracts with
    the spectral gap, not just the damping factor. `sources` is a
    DataFrame of vertex ids — it joins, never collects: a million-seed
    personalization costs the same plan as one seed. Returns (id,
    rank) over ALL vertices; off-component vertices hold exact 0."""
    src = sources.select(VERTEX_ID).distinct()
    s = src.count()
    if s == 0:
        raise ValueError("personalized_pagerank needs a non-empty source set")
    def rank_of(inflow, dangling):
        teleport = F.lit(1.0 - damping) + F.lit(damping) * F.lit(dangling)
        return F.lit(damping) * inflow + F.col("is_src") * F.lit(1.0 / s) * teleport

    v = graph.vertices.select(VERTEX_ID).join(
        src.withColumn("__is_src", F.lit(1)), VERTEX_ID, "left"
    )
    is_src = [F.coalesce("__is_src", F.lit(0)).alias("is_src")]
    init = F.col("is_src") / F.lit(float(s))
    return _power_iteration(graph, "graph_ppr", v, is_src, init, rank_of, max_iter, tol)


def degree_oriented_edges(edges: DataFrame) -> DataFrame:
    """Orient each undirected edge from its lower-(degree, id) endpoint to
    the higher one: (src, dst, dst_rank) with dst_rank = struct(deg, id)
    of the destination.

    This is the classic power-law guard for wedge enumeration (Cohen
    2009 / "degree-ordered" triangle listing): every vertex's oriented
    out-degree is bounded by O(sqrt(m)) regardless of its real degree, so
    a hub with 10M neighbors generates ZERO wedges as a center — its
    edges all point INTO it — instead of 10M^2. Wedge-join skew is
    bounded by the orientation, not left to chance.
    """
    und = _undirected_edges(edges)
    deg = und.groupBy(F.col("a").alias("v")).agg(F.count("*").alias("deg"))
    e = und.filter(F.col("a") < F.col("b"))
    ranked = (
        e.join(deg.select(F.col("v").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("v").alias("b"), F.col("deg").alias("db")), "b")
        .select(
            "a",
            "b",
            F.struct(F.col("da").alias("deg"), F.col("a").alias("id")).alias("ra"),
            F.struct(F.col("db").alias("deg"), F.col("b").alias("id")).alias("rb"),
        )
    )
    fwd = F.col("ra") < F.col("rb")
    return ranked.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(fwd, F.col("rb")).otherwise(F.col("ra")).alias("dst_rank"),
    )


def triangle_count(graph: Graph) -> DataFrame:
    """Per-vertex triangle participation count (undirected),
    degree-ordered.

    Plan: edges oriented low-(degree, id) -> high (degree_oriented_edges),
    self-joined on the shared LOW endpoint to form wedges, then an
    equi-join against the oriented edge set closes them. Each triangle is
    found exactly once from its lowest-ranked corner; counts are then
    credited to all three corners. The orientation bounds every vertex's
    wedge fan-out at O(sqrt(m)) — on power-law graphs the hub-centered
    wedge explosion (deg^2 rows from one join key) cannot happen, so no
    single join task is quadratic in a hub degree."""
    (o,) = pins.repin("graph_tri", degree_oriented_edges(graph.edges))
    o1 = o.select(F.col("src").alias("x"), F.col("dst").alias("y"), "dst_rank")
    o2 = o.select(
        F.col("src").alias("x"), F.col("dst").alias("z"), F.col("dst_rank").alias("z_rank")
    )
    # rank(y) < rank(z): each unordered wedge once; the closing edge is then
    # guaranteed oriented y -> z, a direct equi-join on the oriented set
    wedges = o1.join(o2, "x").filter(F.col("dst_rank") < F.col("z_rank"))
    closing = o.select(F.col("src").alias("y"), F.col("dst").alias("z"))
    triangles = wedges.join(closing, ["y", "z"]).select("x", "y", "z")
    per_vertex = (
        triangles.select(F.explode(F.array("x", "y", "z")).alias(VERTEX_ID))
        .groupBy(VERTEX_ID)
        .agg(F.count("*").alias("triangles"))
    )
    out = graph.vertices.select(VERTEX_ID).join(per_vertex, VERTEX_ID, "left").select(
        VERTEX_ID, F.coalesce("triangles", F.lit(0)).alias("triangles")
    )
    o.unpersist()
    return out


def k_core(graph: Graph, k: int, max_iter: int = 100) -> DataFrame:
    """The k-core: the (unique) maximal subgraph in which every vertex
    has degree >= k, by iterative peeling — each round drops every
    vertex whose degree within the surviving set is below k, until no
    vertex drops. Returns (id, core_degree) for the surviving vertices.

    Each round is one semi-join (edges -> surviving endpoints) + one
    degree aggregate + one filter; the convergence check is the O(1)
    did-anything-drop scalar. Peeling removes at least one vertex per
    non-final round, but in practice strips whole shells at once, so
    rounds ~ core depth, not vertex count. State is one row per
    surviving vertex; localCheckpoint truncates the loop lineage."""
    if k < 1:
        raise ValueError("k must be >= 1")
    (edges,) = pins.repin("graph_kcore", _undirected_edges(graph.edges))
    alive = graph.vertices.select(VERTEX_ID).localCheckpoint(eager=False)
    # the previous round's survivor count IS this round's alive count
    # (r14): carrying it in a local saves one count job per round, and
    # keeping core_degree on the survivor frame lets the converged
    # round's degrees BE the result — the old shape re-derived them
    # with one more semi-join + aggregate pass after the loop
    try:
        n_alive = alive.count()
        converged = False
        for _ in range(max_iter):
            # degrees within the surviving vertex set: both endpoints alive
            live_edges = edges.join(
                alive.select(F.col(VERTEX_ID).alias("a")), "a", "leftsemi"
            ).join(alive.select(F.col(VERTEX_ID).alias("b")), "b", "leftsemi")
            deg = live_edges.groupBy(F.col("a").alias(VERTEX_ID)).agg(
                F.count("*").alias("core_degree")
            )
            survivors = (
                alive.join(deg, VERTEX_ID, "left")
                .filter(F.coalesce(F.col("core_degree"), F.lit(0)) >= k)
                .select(VERTEX_ID, F.col("core_degree"))
                .localCheckpoint(eager=False)
            )
            n_surv = survivors.count()
            if n_surv == n_alive:
                converged = True
                break
            alive = survivors.select(VERTEX_ID)
            n_alive = n_surv
    finally:
        edges.unpersist()
    if not converged:
        # an unconverged peel is NOT the k-core (it may keep vertices the
        # next rounds would strip, e.g. a long path peels 2 ends/round) —
        # never return it silently
        raise RuntimeError(
            f"k_core did not converge in {max_iter} rounds; raise max_iter "
            "(peeling needs up to O(diameter) rounds on chain-like graphs)"
        )
    # on the converged round survivors == alive, so the degrees computed
    # against `alive` are already the in-core degrees (all >= k >= 1, so
    # none are null)
    return survivors.select(VERTEX_ID, "core_degree")


def label_propagation(graph: Graph, max_iter: int = 10) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan et
    al. 2007), made DETERMINISTIC: every vertex adopts the most frequent
    label among its neighbors AND itself (the self-vote variant — without
    it, synchronous updates two-cycle on pendant pairs and bipartite-ish
    structures), ties broken by the smallest label; all vertices update
    simultaneously from the previous round's labels, so the result is
    independent of row order and partitioning (test-pinned). Runs
    max_iter rounds or until no label changes.

    Returns (id, community). Each round: one join edges->labels, one
    (vertex, label) count aggregate, one per-vertex argmax via
    min(struct(-cnt, label)) — the same no-sort top-1 shape as
    kmeans.assign."""
    (edges,) = pins.repin("graph_lpa", _undirected_edges(graph.edges))

    def step(labels):
        votes = (
            edges.join(labels, edges["b"] == labels[VERTEX_ID])
            .select(F.col("a").alias(VERTEX_ID), F.col("community").alias("nbr"))
            .unionAll(labels.select(VERTEX_ID, F.col("community").alias("nbr")))
        )
        counts = votes.groupBy(VERTEX_ID, "nbr").agg(F.count("*").alias("cnt"))
        best = (
            counts.groupBy(VERTEX_ID)
            .agg(
                F.min(F.struct((-F.col("cnt")).alias("nc"), F.col("nbr"))).alias("m")
            )
            .select(VERTEX_ID, F.col("m.nbr").alias("new_community"))
        )
        return labels.join(best, VERTEX_ID, "left").select(
            VERTEX_ID,
            F.coalesce(F.col("new_community"), F.col("community")).alias("community"),
            (F.col("new_community") != F.col("community")).alias("_chg"),
        )

    init = graph.vertices.select(VERTEX_ID, F.col(VERTEX_ID).alias("community"))
    # stopping at max_iter is part of the contract: no warning
    return _fixpoint(edges, init, step, max_iter)[0]


def coreness(graph: Graph, max_iter: int = 100) -> DataFrame:
    """Core number of every vertex (the largest k whose k-core contains
    it) by the distributed h-index fixpoint (Lu et al. 2016, "k-core
    decomposition in large graphs"): estimates start at degree, and each
    round every vertex replaces its estimate with the H-index of its
    neighbors' estimates (the largest h such that >= h neighbors have
    estimate >= h). Estimates are non-increasing and integer, so the
    fixpoint — which equals the true coreness — is reached in finitely
    many rounds; convergence is checked with the O(1) any-change scalar,
    and non-convergence within max_iter raises (the k_core discipline:
    never return a wrong decomposition silently).

    Each round: one join edges->estimates + one per-vertex aggregate;
    the H-index computes inside codegen over the collected neighbor
    array (sort_array desc, count positions where value > position).
    Returns (id, coreness); isolated vertices have coreness 0."""
    (edges,) = pins.repin("graph_coreness", _undirected_edges(graph.edges))
    deg = edges.groupBy(F.col("a").alias(VERTEX_ID)).agg(F.count("*").alias("est"))

    def step(est):
        nbr_vals = (
            edges.join(est, edges["b"] == est[VERTEX_ID])
            .select(F.col("a").alias(VERTEX_ID), F.col("est").alias("v"))
            .groupBy(VERTEX_ID)
            .agg(F.sort_array(F.collect_list("v"), asc=False).alias("vs"))
        )
        # H-index of vs (desc-sorted): count of i with vs[i] >= i+1
        h = F.size(F.filter(nbr_vals["vs"], lambda v, i: v >= i + F.lit(1))).alias("h")
        # estimates are non-increasing, so a vertex changes iff the
        # h-index undercuts its current estimate
        h0 = F.coalesce(F.col("h"), F.lit(0))
        return est.join(nbr_vals.select(VERTEX_ID, h), VERTEX_ID, "left").select(
            VERTEX_ID, F.least(F.col("est"), h0).alias("est"), (h0 < F.col("est")).alias("_chg")
        )

    init = (
        graph.vertices.select(VERTEX_ID)
        .join(deg, VERTEX_ID, "left")
        .select(VERTEX_ID, F.coalesce(F.col("est"), F.lit(0)).alias("est"))
    )
    est, converged = _fixpoint(edges, init, step, max_iter)
    if not converged:
        raise RuntimeError(f"coreness did not converge in {max_iter} h-index rounds")
    return est.select(VERTEX_ID, F.col("est").alias("coreness"))


def weighted_shortest_paths(
    graph: Graph,
    sources: DataFrame,
    weight_col: str = "weight",
    max_iter: int = 50,
    directed: bool = False,
) -> DataFrame:
    """Single/multi-source WEIGHTED shortest paths (non-negative weights)
    by Pregel-style Bellman-Ford relaxation: sources start at 0.0, every
    round each vertex takes min(own, min over in-edges of nbr + w);
    fixpoint <= |V|-1 rounds, usually O(shortest-path hop depth).
    Returns (id, dist) with NULL for unreachable vertices — the weighted
    analog of shortest_paths (hop BFS). Negative weights raise: with the
    min-relaxation they would silently converge to wrong (or cycle
    forever), and Bellman-Ford's negative-cycle detection has no
    use case in the similarity/cost graphs this engine builds."""
    w = F.col(weight_col)
    neg = graph.edges.filter(w < 0).limit(1).count()
    if neg:
        raise ValueError("weighted_shortest_paths requires non-negative weights")
    fwd = graph.edges.select(
        F.col(EDGE_SRC).alias("a"), F.col(EDGE_DST).alias("b"), w.alias("w")
    )
    if not directed:
        fwd = fwd.unionAll(fwd.select(F.col("b").alias("a"), F.col("a").alias("b"), "w"))
    (edges,) = pins.repin("graph_wsssp", fwd)
    src = sources.select(VERTEX_ID).distinct().withColumn("dist", F.lit(0.0))

    def step(state):
        reached = state.filter(F.col("dist").isNotNull())
        msgs = edges.join(reached, edges["a"] == reached[VERTEX_ID]).select(
            F.col("b").alias(VERTEX_ID), (F.col("dist") + F.col("w")).alias("_msg")
        )
        return _min_relax(state, msgs, "dist")

    state, converged = _fixpoint(
        edges, graph.vertices.select(VERTEX_ID).join(src, VERTEX_ID, "left"), step, max_iter
    )
    if not converged:
        # unconverged relaxation is not "unreachable" — distances beyond
        # max_iter hops would silently read as NULL/too-large (the
        # coreness/k_core discipline: never return wrong results quietly)
        raise RuntimeError(
            f"weighted_shortest_paths did not converge in {max_iter} relaxation "
            "rounds; raise max_iter (rounds ~ shortest-path hop depth)"
        )
    return state


def bipartite_project(
    edges: DataFrame,
    left_col: str,
    right_col: str,
    min_common: int = 1,
    max_right_degree: int | None = None,
) -> DataFrame:
    """Project a bipartite edge set onto its LEFT side -> weighted
    co-occurrence edges (src, dst, common) with src < dst and common =
    number of shared right-side neighbors (co-purchase / co-citation /
    co-occurrence graphs).

    Scale shape: one self-join keyed on the right column — each right
    vertex of degree d contributes d*(d-1)/2 pairs, so a single hub
    explodes quadratically; `max_right_degree` drops right vertices
    above the cap BEFORE the join (the standard projection guard —
    stop-words in co-occurrence, mega-SKUs in co-purchase), making the
    per-key work bounded. The pair aggregate runs with map-side
    partials; `min_common` prunes the long noise tail."""
    e = edges.select(
        F.col(left_col).alias("l"), F.col(right_col).alias("r")
    ).distinct()
    if max_right_degree is not None:
        deg = e.groupBy("r").agg(F.count("*").alias("d"))
        keep = deg.filter(F.col("d") <= max_right_degree).select("r")
        e = e.join(keep, "r", "leftsemi")
    a = e.alias("a")
    b = e.alias("b")
    return (
        a.join(
            b,
            (F.col("a.r") == F.col("b.r")) & (F.col("a.l") < F.col("b.l")),
        )
        .groupBy(F.col("a.l").alias("src"), F.col("b.l").alias("dst"))
        .agg(F.count("*").alias("common"))
        .filter(F.col("common") >= min_common)
    )


def _frontier(edges: DataFrame, state: DataFrame, reduce, max_iter: int):
    """Frontier expansion over (id, src, dist, *carried) pair state: each
    round sends the previous round's new pairs one hop along ``edges`` (a,
    b), ``reduce`` aggregates those messages per pair, and the (id, src)
    pairs not yet in the state become the next frontier. Returns (state,
    converged) once a round discovers nothing or after ``max_iter`` rounds."""
    state = state.localCheckpoint(eager=False)
    frontier = state
    for _ in range(max_iter):
        hop = edges.join(frontier, edges["b"] == frontier[VERTEX_ID]).select(
            F.col("a").alias(VERTEX_ID), "src", (F.col("dist") + 1).alias("dist"),
            *frontier.columns[3:],
        )
        # lazy checkpoints (the louvain discipline): the frontier probe
        # materializes `new`; the union checkpoint materializes at its
        # first reader next round — no eager-checkpoint jobs
        new = (
            reduce(hop)
            .join(state.select(VERTEX_ID, "src"), [VERTEX_ID, "src"], "left_anti")
            .localCheckpoint(eager=False)
        )
        if new.limit(1).count() == 0:
            return state, True
        state = state.unionAll(new).localCheckpoint(eager=False)
        frontier = new
    return state, False


def multi_source_bfs(
    graph: Graph, sources: DataFrame, max_iter: int = 50
) -> DataFrame:
    """Source-distinguished BFS: (id, src, dist) for every (vertex,
    source) pair within reach, undirected, ONE iterative loop for all
    K sources at once (round 7).

    Frontier form: each round expands only the pairs discovered in the
    previous round (unit weights mean first discovery IS the minimal
    distance), so per-round work is the frontier's out-edges, not the
    whole V x K state. State rows are (vertex, source) pairs — the
    explicit-pair layout keeps everything a plain equi-keyed join/agg
    (no array-of-K columns to elementwise-min), and total state is
    bounded by V*K with K chosen by the caller (see
    harmonic_centrality's landmark contract)."""
    (edges,) = pins.repin("graph_msbfs", _undirected_edges(graph.edges))

    seeds = (
        sources.select(F.col(VERTEX_ID).alias("src"))
        .distinct()
        .select(F.col("src").alias(VERTEX_ID), "src", F.lit(0).alias("dist"))
    )

    def reduce(hop):
        return hop.groupBy(VERTEX_ID, "src").agg(F.min("dist").alias("dist"))

    try:
        state, converged = _frontier(edges, seeds, reduce, max_iter)
    finally:
        edges.unpersist()
    if not converged:
        _warn_at_cap("multi_source_bfs", max_iter)
    return state


def harmonic_centrality(
    graph: Graph,
    landmarks: DataFrame | None = None,
    max_iter: int = 50,
) -> DataFrame:
    """Harmonic centrality H(v) = sum over reachable u != v of
    1 / d(v, u) (Marchiori & Latora 2000 — the closeness variant that
    is well-defined on disconnected graphs). Returns (id, harmonic),
    0.0 for isolated vertices.

    ``landmarks=None`` computes the exact sum with every vertex as a
    BFS source — O(V) sources, V*K state, fine for modest graphs and
    the oracle scale. At 100 TB pass a K-row sample of vertices: the
    result is then the Eppstein-Wang style estimate over those
    landmarks (scale by n_vertices/K externally if an absolute
    estimate is needed); cost drops to V*K state with K fixed."""
    srcs = landmarks if landmarks is not None else graph.vertices
    dists = multi_source_bfs(graph, srcs.select(VERTEX_ID), max_iter)
    h = (
        dists.filter(F.col("dist") > 0)
        .groupBy(VERTEX_ID)
        .agg(F.sum(1.0 / F.col("dist")).alias("harmonic"))
    )
    return (
        graph.vertices.select(VERTEX_ID)
        .join(h, VERTEX_ID, "left")
        .select(
            VERTEX_ID, F.coalesce("harmonic", F.lit(0.0)).alias("harmonic")
        )
    )


def betweenness_centrality(
    graph: Graph,
    sources: DataFrame | None = None,
    max_iter: int = 50,
) -> DataFrame:
    """Betweenness centrality via distributed Brandes (round 7):
    bc(v) = sum over s != t != v of sigma_st(v) / sigma_st, undirected
    (each unordered pair counted once). Returns (id, betweenness),
    0.0 for vertices on no shortest path.

    Two layered phases, both O(diameter) rounds:
    * forward — the multi_source_bfs frontier loop extended with path
      COUNTS: sigma(v, s) = sum of sigma over (s-)predecessors, a sum
      aggregate on exactly the join the BFS already does;
    * backward — Brandes' dependency accumulation per layer, deepest
      first: delta(u) += sigma_u / sigma_v * (1 + delta_v) summed over
      successors v one hop deeper, two equi-joins + one aggregate per
      layer, delta state localCheckpoint'ed per round.

    ``sources=None`` is the exact algorithm (every vertex a source —
    V*K state with K=V, the oracle-scale form). At 100 TB pass a K-row
    vertex sample: the result is the standard Brandes-sampling
    estimate (scale by n/K for an absolute value); state drops to V*K.
    Diameter bounds the round count in BOTH phases — web/social graphs
    sit at diameter ~6-20, chains are the adversarial case."""
    (edges,) = pins.repin("graph_betweenness", _undirected_edges(graph.edges))
    srcs = (sources if sources is not None else graph.vertices).select(VERTEX_ID)

    seeds = srcs.distinct().select(
        VERTEX_ID, F.col(VERTEX_ID).alias("src"), F.lit(0).alias("dist"), F.lit(1.0).alias("sigma")
    )

    def reduce(hop):
        # path COUNTS: sigma(v, s) sums over the (s-)predecessors
        return hop.groupBy(VERTEX_ID, "src", "dist").agg(F.sum("sigma").alias("sigma"))

    try:
        state, converged = _frontier(edges, seeds, reduce, max_iter)
        if not converged:
            _warn_at_cap("betweenness_centrality", max_iter)
        max_d = state.agg(F.max("dist")).collect()[0][0] or 0
        delta = state.select(VERTEX_ID, "src").withColumn(
            "delta", F.lit(0.0)
        ).localCheckpoint(eager=False)
        for d in range(max_d, 0, -1):
            succ = (
                state.filter(F.col("dist") == d)
                .join(delta, [VERTEX_ID, "src"])
                .select(
                    F.col(VERTEX_ID).alias("sv"),
                    "src",
                    F.col("sigma").alias("sigma_v"),
                    F.col("delta").alias("delta_v"),
                )
            )
            pred_side = state.filter(F.col("dist") == d - 1).select(
                VERTEX_ID, "src", F.col("sigma").alias("sigma_u")
            )
            contrib = (
                edges.join(succ, edges["b"] == F.col("sv"))
                .select(F.col("a").alias(VERTEX_ID), "src", "sigma_v", "delta_v")
                .join(pred_side, [VERTEX_ID, "src"])
                .groupBy(VERTEX_ID, "src")
                .agg(
                    F.sum(
                        F.col("sigma_u") / F.col("sigma_v") * (1.0 + F.col("delta_v"))
                    ).alias("c")
                )
            )
            delta = (
                delta.join(contrib, [VERTEX_ID, "src"], "left")
                .select(
                    VERTEX_ID,
                    "src",
                    (F.col("delta") + F.coalesce("c", F.lit(0.0))).alias("delta"),
                )
                # lazy: the next layer's succ join (or the final bc
                # aggregate) materializes it
                .localCheckpoint(eager=False)
            )
    finally:
        edges.unpersist()
    bc = (
        delta.filter(F.col(VERTEX_ID) != F.col("src"))
        .groupBy(VERTEX_ID)
        .agg((F.sum("delta") / 2.0).alias("betweenness"))
    )
    return (
        graph.vertices.select(VERTEX_ID)
        .join(bc, VERTEX_ID, "left")
        .select(
            VERTEX_ID,
            F.coalesce("betweenness", F.lit(0.0)).alias("betweenness"),
        )
    )


def closeness_centrality(
    graph: Graph,
    landmarks: DataFrame | None = None,
    max_iter: int = 50,
) -> DataFrame:
    """Classic (Bavelas) closeness + eccentricity in one BFS pass
    (round 7): closeness(v) = (reached - 1) / sum of distances to the
    reachable landmark set, eccentricity(v) = max distance — both from
    the SAME multi_source_bfs state the harmonic path uses. Returns
    (id, closeness, eccentricity, reached); isolates get closeness
    0.0 and eccentricity 0. Same landmark contract as
    harmonic_centrality (None = exact, K-row sample = estimate)."""
    srcs = landmarks if landmarks is not None else graph.vertices
    dists = multi_source_bfs(graph, srcs.select(VERTEX_ID), max_iter)
    agg = dists.groupBy(VERTEX_ID).agg(
        F.sum("dist").alias("sumd"),
        F.max("dist").alias("ecc"),
        F.count("*").alias("reached"),
    )
    return (
        graph.vertices.select(VERTEX_ID)
        .join(agg, VERTEX_ID, "left")
        .select(
            VERTEX_ID,
            F.when(
                F.coalesce("sumd", F.lit(0)) > 0,
                (F.col("reached") - 1) / F.col("sumd"),
            )
            .otherwise(F.lit(0.0))
            .alias("closeness"),
            F.coalesce("ecc", F.lit(0)).cast("int").alias("eccentricity"),
            F.coalesce("reached", F.lit(0)).cast("long").alias("reached"),
        )
    )


def local_clustering_coefficient(graph: Graph) -> DataFrame:
    """Per-vertex local clustering coefficient C_v = 2*T_v / (d_v*(d_v-1))
    (Watts & Strogatz 1998), with C_v = 0 for degree < 2. Returns
    (id, degree, triangles, clustcoef).

    Plan: triangle_count's degree-ordered wedge join (one pass, hub-safe
    fan-out bounded at O(sqrt(m))) joined to the degree aggregate — no
    neighborhood materialization per vertex, so a 10M-degree hub costs
    its edge rows, never its neighborhood square."""
    und = _undirected_edges(graph.edges)
    deg = und.groupBy(F.col("a").alias(VERTEX_ID)).agg(F.count("*").alias("degree"))
    tri = triangle_count(graph)
    d = F.col("degree").cast("double")
    return (
        tri.join(deg, VERTEX_ID, "left")
        .select(
            VERTEX_ID,
            F.coalesce("degree", F.lit(0)).alias("degree"),
            "triangles",
            F.when(
                F.coalesce("degree", F.lit(0)) >= 2,
                2.0 * F.col("triangles") / (d * (d - 1.0)),
            )
            .otherwise(F.lit(0.0))
            .alias("clustcoef"),
        )
    )


def modularity(graph: Graph, labels: DataFrame) -> DataFrame:
    """Newman modularity Q of a vertex partition, undirected, unweighted:
    Q = sum over communities c of [ m_c/m - (d_c/(2m))^2 ] where m is the
    total edge count, m_c the intra-community edge count, and d_c the
    total degree of c's members. `labels` is (id, community). Returns a
    single row (modularity double).

    Plan: one join of the (a < b) edge list against the label frame on
    each endpoint (labels is vertex-sized — AQE broadcasts it when small,
    shuffles on id otherwise), then two fixed-size aggregates. Nothing
    is quadratic in community size; the per-community frame has at most
    |V| rows."""
    lab = labels.select(VERTEX_ID, "community")
    e = _undirected_edges(graph.edges).filter(F.col("a") < F.col("b"))
    both = (
        e.join(lab.select(F.col(VERTEX_ID).alias("a"), F.col("community").alias("ca")), "a")
        .join(lab.select(F.col(VERTEX_ID).alias("b"), F.col("community").alias("cb")), "b")
    )
    intra = (
        both.filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("community"))
        .agg(F.count("*").alias("m_c"))
    )
    und = _undirected_edges(graph.edges)
    deg = und.groupBy(F.col("a").alias(VERTEX_ID)).agg(F.count("*").alias("deg"))
    d_c = (
        lab.join(deg, VERTEX_ID, "left")
        .groupBy("community")
        .agg(F.sum(F.coalesce("deg", F.lit(0))).alias("d_c"))
    )
    m = e.count()
    if m == 0:
        spark = graph.vertices.sparkSession
        return spark.createDataFrame([(0.0,)], "modularity double")
    per_c = d_c.join(intra, "community", "left").select(
        (
            F.coalesce("m_c", F.lit(0)) / F.lit(float(m))
            - (F.col("d_c") / F.lit(2.0 * m)) ** 2
        ).alias("q_c")
    )
    return per_c.agg(F.sum("q_c").alias("modularity"))


def degree_assortativity(graph: Graph) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002): the Pearson
    correlation of the degrees at the two ends of every edge, computed
    over the DIRECTED closure of the undirected edge list (each edge
    contributes both (d_a, d_b) and (d_b, d_a), the standard undirected
    convention). Returns one row (assortativity double).

    One degree aggregate, two vertex-keyed joins, one corr() — all
    JVM-side, no Python."""
    und = _undirected_edges(graph.edges)
    deg = und.groupBy(F.col("a").alias("v")).agg(F.count("*").alias("deg"))
    pairs = (
        und.join(deg.select(F.col("v").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("v").alias("b"), F.col("deg").alias("db")), "b")
    )
    # corr() under ANSI mode throws DIVIDE_BY_ZERO on constant-degree
    # graphs (regular graphs, cycles); compute Pearson explicitly with
    # try_divide so those return NULL like DuckDB's CORR
    stats = pairs.agg(
        F.covar_pop("da", "db").alias("c"),
        F.stddev_pop("da").alias("sa"),
        F.stddev_pop("db").alias("sb"),
    )
    return stats.select(
        F.try_divide(F.col("c"), F.col("sa") * F.col("sb")).alias("assortativity")
    )


def louvain(graph: Graph, max_sweeps: int = 10, max_levels: int = 3) -> DataFrame:
    """Louvain-style modularity community detection (Blondel et al.
    2008), distributed. Returns (id, community).

    Phase 1 (local moves) is made synchronous-safe with a MONOTONE move
    rule: in each sweep every vertex evaluates the standard Louvain gain
    dQ = k_i,c / m - deg_i * Sigma_tot(c) / (2 m^2) for each neighboring
    community c and its own, and may adopt the best community only if
    the gain beats staying AND the target community id is SMALLER than
    its current one. Labels are ids, each move strictly decreases a
    vertex's label, so synchronous sweeps cannot oscillate and
    terminate without any vertex-coloring machinery; ties break on
    smallest community id (deterministic, partitioning-invariant).

    Phase 2 contracts communities to supernodes (community-pair edge
    aggregate with multiplicity as weight, self-loops kept for the gain
    denominator) and repeats up to max_levels. Each sweep is one
    edges->labels join + two bounded aggregates; per-level state is one
    row per (super)vertex. The down-map joins compose labels back to
    the original ids."""
    spark = graph.vertices.sparkSession
    # weighted undirected edge list for the current level; weight = 1.0
    cur = (
        _undirected_edges(graph.edges)
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", F.lit(1.0).alias("w"))
    )
    # vertex -> community mapping at the ORIGINAL level, composed down
    mapping = graph.vertices.select(VERTEX_ID, F.col(VERTEX_ID).alias("community"))
    for _level in range(max_levels):
        verts = (
            cur.select(F.col("a").alias(VERTEX_ID))
            .unionAll(cur.select(F.col("b").alias(VERTEX_ID)))
            .distinct()
        )
        labels, moved = _louvain_sweeps(verts, cur, max_sweeps)
        mapping = (
            mapping.join(
                labels.select(
                    F.col(VERTEX_ID).alias("community"),
                    F.col("new_c").alias("_nc"),
                ),
                "community",
                "left",
            )
            .select(VERTEX_ID, F.coalesce("_nc", "community").alias("community"))
            .localCheckpoint(eager=False)
        )
        if not moved:
            break
        relabeled = (
            cur.join(
                labels.select(F.col(VERTEX_ID).alias("a"), F.col("new_c").alias("ca")),
                "a",
            )
            .join(
                labels.select(F.col(VERTEX_ID).alias("b"), F.col("new_c").alias("cb")),
                "b",
            )
        )
        cur = (
            relabeled.select(
                F.least("ca", "cb").alias("a"),
                F.greatest("ca", "cb").alias("b"),
                "w",
            )
            .groupBy("a", "b")
            .agg(F.sum("w").alias("w"))
            # lazy (r14): the isolated-supernode probe right below is the
            # first action, so it materializes the checkpoint — one job
            # per level instead of an eager-checkpoint job plus the probe
            .localCheckpoint(eager=False)
        )
        # all contracted into isolated supernodes -> nothing left to merge
        if cur.filter(F.col("a") != F.col("b")).limit(1).count() == 0:
            break
    return mapping.orderBy(VERTEX_ID)


def _louvain_sweeps(verts: DataFrame, wedges: DataFrame, max_sweeps: int):
    """Phase-1 sweeps on one level. `wedges` is (a <= b, w) with
    self-loops allowed (contracted levels). Returns (labels with
    columns (id, new_c), any_moved)."""
    # directed closure WITHOUT duplicating self-loops; self-loop weight
    # counts 2x toward degree (standard convention k_i = 2*w_ii + ...)
    fwd = wedges.filter(F.col("a") != F.col("b"))
    directed = fwd.unionAll(
        fwd.select(F.col("b").alias("a"), F.col("a").alias("b"), "w")
    )
    self_loops = wedges.filter(F.col("a") == F.col("b"))
    deg = (
        directed.groupBy("a")
        .agg(F.sum("w").alias("deg"))
        .unionAll(self_loops.select("a", (2.0 * F.col("w")).alias("deg")))
        .groupBy("a")
        .agg(F.sum("deg").alias("deg"))
        # vertex-sized; read twice per sweep (sigma + own) in every
        # sweep of the level — checkpoint once, materialized by the
        # two_m probe below (r14)
        .localCheckpoint(eager=False)
    )
    two_m = deg.agg(F.sum("deg")).first()[0] or 0.0
    if two_m == 0.0:
        return verts.select(VERTEX_ID, F.col(VERTEX_ID).alias("new_c")), False
    labels = verts.select(VERTEX_ID, F.col(VERTEX_ID).alias("new_c")).localCheckpoint(
        eager=False
    )
    any_moved = False
    for _ in range(max_sweeps):
        lab_a = labels.select(F.col(VERTEX_ID).alias("a"), F.col("new_c").alias("c_a"))
        lab_b = labels.select(F.col(VERTEX_ID).alias("b"), F.col("new_c").alias("c_b"))
        sigma = (
            labels.join(deg.withColumnRenamed("a", VERTEX_ID), VERTEX_ID, "left")
            .groupBy("new_c")
            .agg(F.sum(F.coalesce("deg", F.lit(0.0))).alias("sigma"))
        )
        # k_i,c: weight from each vertex into each neighboring community
        k_ic = (
            directed.join(lab_b, "b")
            .groupBy(F.col("a").alias(VERTEX_ID), F.col("c_b").alias("cand"))
            .agg(F.sum("w").alias("k_ic"))
        )
        own = labels.join(deg.withColumnRenamed("a", VERTEX_ID), VERTEX_ID, "left").select(
            VERTEX_ID,
            F.col("new_c").alias("cur_c"),
            F.coalesce("deg", F.lit(0.0)).alias("k_i"),
        )
        cands = (
            k_ic.join(own, VERTEX_ID)
            .join(sigma.withColumnRenamed("new_c", "cand"), "cand")
            .select(
                VERTEX_ID,
                "cur_c",
                "cand",
                # gain of being in `cand` vs alone; Sigma excludes i itself
                (
                    F.col("k_ic") / F.lit(two_m / 2.0)
                    - F.col("k_i")
                    * (F.col("sigma") - F.when(F.col("cand") == F.col("cur_c"), F.col("k_i")).otherwise(F.lit(0.0)))
                    / F.lit(two_m * two_m / 2.0)
                ).alias("gain"),
            )
        )
        best = (
            cands.groupBy(VERTEX_ID, "cur_c")
            .agg(F.min(F.struct((-F.col("gain")).alias("ng"), F.col("cand"))).alias("m"))
            .select(
                VERTEX_ID,
                "cur_c",
                F.col("m.cand").alias("target"),
                (-F.col("m.ng")).alias("gain"),
            )
        )
        moves = best.filter(
            (F.col("target") < F.col("cur_c")) & (F.col("gain") > 1e-12)
        ).select(VERTEX_ID, F.col("target")).localCheckpoint(eager=False)
        # the moves frame IS the change set — counting it replaces the
        # old separate new-vs-old join (one Spark job fewer per sweep);
        # the count also materializes the LAZY checkpoint, so the sweep
        # pays one job here, not an eager-checkpoint job plus a count
        # (r14 optimization, ditto the labels checkpoint below — its
        # first reader next sweep materializes it)
        if moves.count() == 0:
            break
        any_moved = True
        labels = (
            labels.join(moves, VERTEX_ID, "left")
            .select(VERTEX_ID, F.coalesce("target", "new_c").alias("new_c"))
            .localCheckpoint(eager=False)
        )
    return labels, any_moved


def common_neighbor_link_prediction(
    graph: Graph, max_center_degree: int | None = None
) -> DataFrame:
    """Link prediction by neighborhood overlap: for every NON-adjacent
    pair (x, y) sharing at least one neighbor, the common-neighbor
    count and the Jaccard coefficient |N(x) ∩ N(y)| / |N(x) ∪ N(y)|
    (Liben-Nowell & Kleinberg 2003). Returns
    (x, y, common long, jaccard double) with x < y.

    Plan: one wedge self-join on the shared center, one (x, y)
    aggregate, one anti-join against the edge set, two degree joins.
    Candidate enumeration is inherently quadratic in each CENTER's
    degree (every wedge through a hub is a candidate pair) — that's the
    semantics, not an implementation accident — so `max_center_degree`
    optionally drops hub centers first, the standard mitigation
    (a 10M-degree hub predicts nothing useful anyway: bounded-degree
    centers carry the signal)."""
    und = _undirected_edges(graph.edges)
    deg = und.groupBy(F.col("a").alias("v")).agg(F.count("*").alias("deg"))
    centers = und.select(F.col("b").alias("w"), F.col("a").alias("x"))
    if max_center_degree is not None:
        ok = deg.filter(F.col("deg") <= max_center_degree).select(
            F.col("v").alias("w")
        )
        centers = centers.join(ok, "w", "left_semi")
    pairs = (
        centers.join(
            centers.select(F.col("w"), F.col("x").alias("y")), "w"
        )
        .filter(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(F.count("*").alias("common"))
    )
    existing = und.filter(F.col("a") < F.col("b")).select(
        F.col("a").alias("x"), F.col("b").alias("y")
    )
    fresh = pairs.join(existing, ["x", "y"], "left_anti")
    return (
        fresh.join(deg.select(F.col("v").alias("x"), F.col("deg").alias("dx")), "x")
        .join(deg.select(F.col("v").alias("y"), F.col("deg").alias("dy")), "y")
        .select(
            "x",
            "y",
            F.col("common").cast("long").alias("common"),
            (
                F.col("common")
                / (F.col("dx") + F.col("dy") - F.col("common"))
            ).alias("jaccard"),
        )
    )


def conductance(graph: Graph, labels: DataFrame) -> DataFrame:
    """Per-community conductance phi(C) = cut(C) / min(vol(C), 2m - vol(C)):
    the fraction of a community's edge volume that leaks out — LOW is a
    good cut, the complement readout to modularity (which rewards
    density; conductance punishes leakage). `labels` is (id, community).
    Returns (community, vol long, cut long, conductance double);
    communities spanning the whole volume (2m - vol = 0) yield NULL.

    Same plan skeleton as modularity: label both endpoints of the
    directed edge closure (two vertex-keyed joins), then ONE aggregate
    keyed by the source's community counting total vs crossing ends.
    Nothing is quadratic in community size."""
    lab = labels.select(VERTEX_ID, "community")
    und = _undirected_edges(graph.edges)
    both = (
        und.join(
            lab.select(F.col(VERTEX_ID).alias("a"), F.col("community").alias("ca")),
            "a",
        )
        .join(
            lab.select(F.col(VERTEX_ID).alias("b"), F.col("community").alias("cb")),
            "b",
        )
    )
    per_c = both.groupBy(F.col("ca").alias("community")).agg(
        F.count("*").alias("vol"),
        F.sum(F.when(F.col("ca") != F.col("cb"), 1).otherwise(0)).alias("cut"),
    )
    total = und.count()  # = 2m
    return per_c.select(
        "community",
        F.col("vol").cast("long").alias("vol"),
        F.col("cut").cast("long").alias("cut"),
        F.try_divide(
            F.col("cut").cast("double"),
            F.least(F.col("vol"), F.lit(total) - F.col("vol")).cast("double"),
        ).alias("conductance"),
    )
