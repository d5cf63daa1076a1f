"""Iterative graph traversal over road-network edge relations.

The reference service publishes walkway/road datasets whose edge
records carry ``orig_node_id``/``dest_node_id`` (src/models, the OSW
edge schema) but delegates every network question to out-of-repo
consumers; a transportation-data engine at 100 TB needs the traversal
primitives in-engine:

* ``hop_distance`` — multi-source breadth-first hop counts: the
  "reachable within K hops" service-area query (which stops can reach
  a clinic within K pedestrian links, coverage of a new curb ramp).
* ``network_distance`` — hop-bounded shortest path length over an
  integer edge-weight column (meters): synchronous Bellman-Ford
  rounds, ``dist(u)`` after round r = min over walks of <= r edges.

Scale shape (the part that matters at 10^12 edges): both are
O(rounds) Spark jobs with ``localCheckpoint`` lineage cuts per round —
the same discipline as _cc_labels below, without which the
logical plan grows geometrically and the driver dies analyzing round
~8. BFS keeps per-round state FRONTIER-LOCAL: for undirected graphs a
layer-h node's neighbors sit in layers h-2..h, so the dedup anti-join
needs only the last TWO layers — the full visited set is never
re-materialized, making round cost O(frontier + neighbors), not O(V).
Directed graphs fall back to the accumulated-visited anti-join (a back
edge may point arbitrarily far up the layer stack). Bellman-Ford
carries the full (node, dist) relation per round by construction —
that IS the algorithm's state — but each round is ONE equi-join +
ONE partial-aggregated min exchange, nothing quadratic.

Both converge early: a round that discovers nothing (BFS) or improves
nothing (Bellman-Ford) terminates the loop, so ``max_hops`` /
``max_rounds`` is a bound, not a cost.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, types as T

from ..core import route
from ..exceptions import InputException

__all__ = ["hop_distance", "network_distance", "triangle_count",
           "pagerank", "kcore", "neighbor_jaccard",
           "connected_components"]

#: PageRank fixed-point scale: rank 1.0 == 10^12, so five damped
#: iterations stay far inside int64 (mass * damping_num <= N * 1e12 *
#: 17 — good to ~5e5 nodes per corpus partition of the oracle; the
#: operator itself only needs per-node sums, bounded by in-degree).
PR_SCALE = 10**12


def _symmetrize(edges: DataFrame, src: str, dst: str,
                directed: bool, extra: list[str] | None = None) -> DataFrame:
    """Cast endpoints to long and (for undirected graphs) emit both
    directions. Rows with a NULL endpoint drop entirely — the same
    hygiene as pagerank/kcore/neighbor_jaccard (ADVICE r5: a NULL dest
    otherwise mints a NULL node that left_anti equi-joins never match,
    so BFS could re-emit it at several hop levels)."""
    cols = extra or []
    clean = edges.filter(F.col(src).cast("long").isNotNull()
                         & F.col(dst).cast("long").isNotNull())
    fwd = clean.select(F.col(src).cast("long").alias("_s"),
                       F.col(dst).cast("long").alias("_d"), *cols)
    if directed:
        return fwd
    return fwd.unionByName(
        clean.select(F.col(dst).cast("long").alias("_s"),
                     F.col(src).cast("long").alias("_d"), *cols))


def _seed_nodes(seeds: DataFrame, node: str) -> DataFrame:
    """Seed ids as a long ``_n`` column, NULLs dropped: a NULL seed
    reaches nothing, and both the local folds (which cannot hold a NULL
    in an int64 array) and the distributed layer 0 read this relation."""
    return (seeds.select(F.col(node).cast("long").alias("_n"))
            .filter(F.col("_n").isNotNull()))


def _hop_distance_local(sym: DataFrame, seeds: DataFrame, max_hops: int,
                        node: str) -> DataFrame | None:
    """Single-task BFS over a small symmetric edge relation
    (core/route.single_task; None above the "graph_edges" bound):
    identical level semantics (hops = minimum traversal count, seeds at
    0, layers deduplicated), computed with boolean frontier masks. The
    seed relation rides along as tagged rows (``_d == _s``) so nothing
    touches the driver."""
    tagged = (sym.select("_s", "_d", F.lit(False).alias("_seed"))
              .unionByName(seeds.select(F.col("_n").alias("_s"),
                                        F.col("_n").alias("_d"),
                                        F.lit(True).alias("_seed"))))
    schema = T.StructType([T.StructField(node, T.LongType()),
                           T.StructField("hops", T.IntegerType())])

    def fold(pdfs):
        import numpy as np
        import pandas as pd
        s, d, seed = route.int64_columns(pdfs, "_s", "_d", "_seed")
        seed = seed.astype(bool)
        s, d, q = s[~seed], d[~seed], s[seed]
        if q.size == 0:
            return
        nodes = np.unique(np.concatenate([s, d, q]))
        si = np.searchsorted(nodes, s)
        di = np.searchsorted(nodes, d)
        qi = np.searchsorted(nodes, q)
        hops = np.full(nodes.size, -1, np.int64)
        hops[qi] = 0
        frontier = np.zeros(nodes.size, bool)
        frontier[qi] = True
        for h in range(1, max_hops + 1):
            new = np.zeros(nodes.size, bool)
            new[di[frontier[si]]] = True
            new &= hops < 0
            if not new.any():
                break
            hops[new] = h
            frontier = new
        keep = hops >= 0
        yield pd.DataFrame({node: nodes[keep],
                            "hops": hops[keep].astype("int32")})

    return route.single_task(tagged, "graph_edges", fold, schema, sym)


def hop_distance(edges: DataFrame, seeds: DataFrame, max_hops: int,
                 src: str = "orig_node_id", dst: str = "dest_node_id",
                 node: str = "node",
                 directed: bool = False) -> DataFrame:
    """Multi-source BFS: (node, hops) for every node reachable from
    ``seeds`` in at most ``max_hops`` edge traversals, hops = the
    MINIMUM traversal count (seeds themselves at hops 0; a node
    reachable from several seeds reports the nearest).

    ``seeds`` is any frame carrying ``node``; duplicates are fine.
    Multigraph edges are deduplicated once up front (one distinct
    exchange bounded by O(E)) so no round pays for parallel edges.
    """
    if not isinstance(max_hops, int) or max_hops < 0:
        raise InputException("max_hops must be a non-negative integer")
    sym = (_symmetrize(edges, src, dst, directed)
           .distinct().localCheckpoint())
    seeds = _seed_nodes(seeds, node)
    local = _hop_distance_local(sym, seeds, max_hops, node)
    if local is not None:
        return local
    layer0 = seeds.distinct().localCheckpoint()
    layers = [layer0.select(F.col("_n"), F.lit(0).alias("hops"))]
    frontier, prev = layer0, None
    visited = layer0 if directed else None
    for h in range(1, max_hops + 1):
        nbrs = (frontier.join(sym, frontier["_n"] == sym["_s"])
                .select(F.col("_d").alias("_n")).distinct())
        if directed:
            nxt = nbrs.join(visited, "_n", "left_anti")
        else:
            # undirected: dist(neighbor of layer h-1) >= h-2, so the
            # last two layers are the only possible repeats
            nxt = nbrs.join(frontier, "_n", "left_anti")
            if prev is not None:
                nxt = nxt.join(prev, "_n", "left_anti")
        nxt = nxt.localCheckpoint()
        if nxt.isEmpty():
            break
        layers.append(nxt.select(F.col("_n"), F.lit(h).alias("hops")))
        if directed:
            visited = visited.unionByName(nxt).localCheckpoint()
        prev, frontier = frontier, nxt
    out = layers[0]
    for more in layers[1:]:
        out = out.unionByName(more)
    return out.select(F.col("_n").alias(node), F.col("hops").cast("int"))


def _network_distance_local(sym: DataFrame, seeds: DataFrame,
                            max_rounds: int, node: str) -> DataFrame | None:
    """Single-task synchronous Bellman-Ford over a small weighted edge
    relation (core/route.single_task; None above the "graph_edges"
    bound): identical round semantics (dist after round r = exact
    integer min over walks of <= r edges, early exit when a round
    improves nothing), via ``np.minimum.at`` on int64 arrays. Seeds
    ride along as tagged zero-weight self rows."""
    tagged = (sym.select("_s", "_d", "_w", F.lit(False).alias("_seed"))
              .unionByName(seeds.select(F.col("_n").alias("_s"),
                                        F.col("_n").alias("_d"),
                                        F.lit(0).cast("long").alias("_w"),
                                        F.lit(True).alias("_seed"))))
    schema = T.StructType([T.StructField(node, T.LongType()),
                           T.StructField("dist", T.LongType())])

    def fold(pdfs):
        import numpy as np
        import pandas as pd
        s, d, w, seed = route.int64_columns(pdfs, "_s", "_d", "_w", "_seed")
        seed = seed.astype(bool)
        s, d, w, q = s[~seed], d[~seed], w[~seed], s[seed]
        if q.size == 0:
            return
        nodes = np.unique(np.concatenate([s, d, q]))
        si = np.searchsorted(nodes, s)
        di = np.searchsorted(nodes, d)
        qi = np.searchsorted(nodes, q)
        # sentinel: undiscovered nodes sit at int64 max; relaxation only
        # ever reads DISCOVERED sources, so no arithmetic touches it
        inf = np.iinfo(np.int64).max
        dist = np.full(nodes.size, inf, np.int64)
        dist[qi] = 0
        for _ in range(max_rounds):
            m = dist[si] < inf
            new = dist.copy()
            np.minimum.at(new, di[m], dist[si[m]] + w[m])
            improved = bool((new < dist).any())
            dist = new
            if not improved:
                break
        disc = dist < inf
        yield pd.DataFrame({node: nodes[disc], "dist": dist[disc]})

    return route.single_task(tagged, "graph_edges", fold, schema, sym)


def network_distance(edges: DataFrame, seeds: DataFrame, max_rounds: int,
                     src: str = "orig_node_id", dst: str = "dest_node_id",
                     weight: str = "w", node: str = "node",
                     directed: bool = False) -> DataFrame:
    """Hop-bounded shortest network distance: (node, dist) where dist
    is the exact integer sum of ``weight`` along the best walk of at
    most ``max_rounds`` edges from any seed (seeds at 0). Synchronous
    Bellman-Ford: round r relaxes every edge out of the current
    relation, so after round r the relation holds min over walks of
    <= r edges — for non-negative weights and ``max_rounds`` >= the
    hop count of the true shortest path this IS the shortest distance,
    and the loop exits as soon as a round improves nothing.

    Weights cast to long and sum exactly (no float accumulation), so
    the result hash-matches any engine replaying the same rule.
    """
    if not isinstance(max_rounds, int) or max_rounds < 0:
        raise InputException("max_rounds must be a non-negative integer")
    sym = (_symmetrize(edges, src, dst, directed,
                       extra=[F.col(weight).cast("long").alias("_w")])
           .localCheckpoint())
    seeds = _seed_nodes(seeds, node)
    local = _network_distance_local(sym, seeds, max_rounds, node)
    if local is not None:
        return local
    dist = (seeds.distinct()
            .select("_n", F.lit(0).cast("long").alias("_dist"))
            .localCheckpoint())
    for _ in range(max_rounds):
        relaxed = (dist.join(sym, dist["_n"] == sym["_s"])
                   .select(F.col("_d").alias("_n"),
                           (F.col("_dist") + F.col("_w")).alias("_dist")))
        new = (dist.unionByName(relaxed)
               .groupBy("_n").agg(F.min("_dist").alias("_dist"))
               .localCheckpoint())
        improved = (new.join(dist.withColumnRenamed("_dist", "_old"),
                             "_n", "left")
                    .filter(F.col("_old").isNull()
                            | (F.col("_dist") < F.col("_old"))).count())
        dist = new
        if improved == 0:
            break
    return dist.select(F.col("_n").alias(node), F.col("_dist").alias("dist"))


def triangle_count(edges: DataFrame, src: str = "orig_node_id",
                   dst: str = "dest_node_id",
                   node: str = "node") -> DataFrame:
    """Per-node triangle participation: (node, triangles) for every
    node that sits on at least one 3-clique of the undirected simple
    graph underlying ``edges`` (direction, duplicates and self-loops
    are all collapsed first — one distinct exchange bounded by O(E)).

    Scale shape: the classic degree-ordered orientation. Each
    undirected edge is directed from its LOWER-rank endpoint to its
    higher, rank = (degree, node id) — under that orientation a
    node's out-degree is O(sqrt(E)) even on power-law graphs, so the
    wedge self-join (the only superlinear step) touches
    sum(outdeg^2) = O(E^1.5) candidate wedges worst-case instead of
    the O(sum indeg^2) a celebrity node would cost unoriented. The
    closing edge of a wedge (v, w) with rank(v) < rank(w) can only be
    oriented v->w, so one equi-join against the oriented relation
    finishes: every triangle is found exactly once, at its
    lowest-rank corner. Reference semantics anchor: the walkway
    network's edge table (src/models OSW edge schema) — triangle
    density is the standard local-clustering input the reference
    delegates to out-of-repo consumers.
    """
    s, d = F.col(src).cast("long"), F.col(dst).cast("long")
    canon = (edges.select(F.least(s, d).alias("_a"),
                          F.greatest(s, d).alias("_b"))
             .filter(F.col("_a") != F.col("_b"))
             .distinct())
    deg = (canon.select(F.col("_a").alias("_n"))
           .unionAll(canon.select(F.col("_b").alias("_n")))
           .groupBy("_n").agg(F.count("*").alias("_deg")))
    e = (canon
         .join(deg.select(F.col("_n").alias("_a"),
                          F.col("_deg").alias("_da")), "_a")
         .join(deg.select(F.col("_n").alias("_b"),
                          F.col("_deg").alias("_db")), "_b"))
    a_first = ((F.col("_da") < F.col("_db"))
               | ((F.col("_da") == F.col("_db"))
                  & (F.col("_a") < F.col("_b"))))
    oriented = (e.select(
        F.when(a_first, F.col("_a")).otherwise(F.col("_b")).alias("_s"),
        F.when(a_first, F.col("_b")).otherwise(F.col("_a")).alias("_d"),
        F.when(a_first, F.col("_db")).otherwise(F.col("_da")).alias("_dd"))
        .localCheckpoint())
    o1 = oriented.select(F.col("_s").alias("_u"), F.col("_d").alias("_v"),
                         F.col("_dd").alias("_vd"))
    o2 = oriented.select(F.col("_s").alias("_u"), F.col("_d").alias("_w"),
                         F.col("_dd").alias("_wd"))
    wedges = (o1.join(o2, "_u")
              .filter((F.col("_vd") < F.col("_wd"))
                      | ((F.col("_vd") == F.col("_wd"))
                         & (F.col("_v") < F.col("_w")))))
    # bounded by the triangle count; checkpoint so the three-corner
    # union below does not re-execute the wedge join per branch
    tris = wedges.join(
        oriented.select(F.col("_s").alias("_v"), F.col("_d").alias("_w")),
        ["_v", "_w"]).localCheckpoint()
    corners = (tris.select(F.col("_u").alias("_n"))
               .unionAll(tris.select(F.col("_v").alias("_n")))
               .unionAll(tris.select(F.col("_w").alias("_n"))))
    return (corners.groupBy("_n").agg(F.count("*").alias("triangles"))
            .select(F.col("_n").alias(node),
                    F.col("triangles").cast("long")))


def pagerank(edges: DataFrame, n_iter: int,
             src: str = "orig_node_id", dst: str = "dest_node_id",
             node: str = "node",
             damping_num: int = 17, damping_den: int = 20) -> DataFrame:
    """Integer-exact damped PageRank over the DIRECTED simple graph:
    (node, pr) after exactly ``n_iter`` synchronous power iterations,
    ranks in fixed-point units of ``PR_SCALE`` (rank 1.0 == 10^12).

    The update is pure integer arithmetic so any engine replays it
    bit-exactly (the float variant could never sit under a hash
    oracle):

        pr_0(v)   = PR_SCALE
        contrib(u) = pr_i(u) DIV outdeg(u)        (per out-edge)
        pr_{i+1}(v) = ((den-num)*PR_SCALE) DIV den
                      + (num * SUM contrib over in-edges) DIV den

    with damping num/den defaulting to 17/20 = 0.85. Dangling-node
    mass (nodes with no out-edges) is dropped, the documented
    lost-mass variant — total mass therefore shrinks monotonically,
    which is fine for ranking and keeps the per-iteration plan ONE
    equi-join + ONE partial-aggregated sum exchange. Node set = every
    id appearing as src or dst. Per-round ``localCheckpoint`` cuts
    lineage exactly like hop_distance/network_distance, so n_iter is
    a cost bound, not a plan-depth bomb.
    """
    if not isinstance(n_iter, int) or n_iter < 0:
        raise InputException("n_iter must be a non-negative integer")
    if damping_num <= 0 or damping_den <= 0 or damping_num > damping_den:
        raise InputException("damping must satisfy 0 < num <= den")
    # dangling-endpoint rows drop entirely (the same hygiene as
    # triangle_count's canon filter): a NULL endpoint must not mint a
    # NULL node or inflate its partner's out-degree
    e = (edges.select(F.col(src).cast("long").alias("_s"),
                      F.col(dst).cast("long").alias("_d"))
         .filter(F.col("_s").isNotNull() & F.col("_d").isNotNull())
         .distinct().localCheckpoint())
    nodes = (e.select(F.col("_s").alias("_n"))
             .unionAll(e.select(F.col("_d").alias("_n")))
             .distinct().localCheckpoint())
    # int64 envelope guard (ADVICE r5 low #1): the fixed-point update can
    # exceed int64 on funnel graphs (every node feeding one hub). Two
    # sound per-iteration caps, replayed as an exact Python-int scalar
    # recurrence (no big-int SQL needed):
    #   in_sum(v) <= total mass M_i <= N * PR_SCALE   (mass never grows:
    #     each u contributes at most pr(u) across ALL its out-edges), and
    #   in_sum(v) <= max_indeg * max_rank_i.
    # If num * min(caps) could reach 2^63, refuse rather than wrap. Cost:
    # one count + one max aggregation over already-checkpointed frames.
    n_nodes = nodes.count()
    max_indeg = int((e.groupBy("_d").agg(F.count(F.lit(1)).alias("_id"))
                     .agg(F.max("_id")).first() or [0])[0] or 0)
    base = ((damping_den - damping_num) * PR_SCALE) // damping_den
    r_max = PR_SCALE
    for _ in range(n_iter):
        in_sum_cap = min(n_nodes * PR_SCALE, max_indeg * r_max)
        if damping_num * in_sum_cap >= 2**63:
            raise InputException(
                f"pagerank int64 envelope exceeded: {n_nodes} nodes, max "
                f"in-degree {max_indeg}, {n_iter} iterations overflow the "
                f"fixed-point scale {PR_SCALE}; lower PR_SCALE or n_iter")
        r_max = base + (damping_num * in_sum_cap) // damping_den
    # single-task iteration over a small edge relation (guide §2,
    # core/route.single_task): identical integer recurrence on dense
    # arrays, the envelope guard above having already run driver-side
    schema = T.StructType([T.StructField(node, T.LongType()),
                           T.StructField("pr", T.LongType())])
    iters, dnum, dden = n_iter, damping_num, damping_den

    def fold(pdfs):
        import numpy as np
        import pandas as pd
        s, d = route.int64_columns(pdfs, "_s", "_d")
        if s.size == 0:
            return
        nds = np.unique(np.concatenate([s, d]))
        si = np.searchsorted(nds, s)
        di = np.searchsorted(nds, d)
        od = np.bincount(si, minlength=nds.size).astype(np.int64)
        pr = np.full(nds.size, PR_SCALE, np.int64)
        for _ in range(iters):
            contrib = pr[si] // od[si]
            in_sum = np.zeros(nds.size, np.int64)
            np.add.at(in_sum, di, contrib)
            pr = base + (dnum * in_sum) // dden
        yield pd.DataFrame({node: nds, "pr": pr})

    local = route.single_task(e, "graph_edges", fold, schema)
    if local is not None:
        return local
    ej = (e.join(e.groupBy("_s").agg(F.count("*").alias("_od")), "_s")
          .localCheckpoint())
    ranks = nodes.select("_n", F.lit(PR_SCALE).cast("long").alias("_r"))
    for _ in range(n_iter):
        sums = (ranks.join(ej, ranks["_n"] == ej["_s"])
                .select(F.col("_d").alias("_n"),
                        F.expr("_r div _od").alias("_c"))
                .groupBy("_n").agg(F.sum("_c").alias("_in")))
        ranks = (nodes.join(sums, "_n", "left")
                 .select("_n",
                         (F.lit(base)
                          + F.expr(f"({damping_num} * coalesce(_in, 0))"
                                   f" div {damping_den}"))
                         .cast("long").alias("_r"))
                 .localCheckpoint())
    return ranks.select(F.col("_n").alias(node), F.col("_r").alias("pr"))


def connected_components(edges: DataFrame, src: str = "orig_node_id",
                         dst: str = "dest_node_id",
                         stats: dict | None = None) -> DataFrame:
    """Exact connected components of the undirected graph: one
    ``(node, component)`` row per node that appears on an edge, where
    ``component`` is the minimum node id in that node's component —
    the "which sidewalk islands exist" query over the reference's edge
    schema (src/model/interfaces.ts:193 orig/dest node ids), asked
    directly instead of through union_dataset's dedup collapse.

    This is the public face of the min-label propagation that already
    powers union_dataset(collapse='cc') and the cluster-dedup family
    (_cc_labels below): each round combines neighbor-min with
    pointer jumping (label-of-label), so the fixpoint arrives in
    O(log diameter) rounds with localCheckpoint lineage cuts — a
    10^12-edge graph pays O(log d) joins, never a per-node loop.
    NULL endpoints drop (dirty-edge hygiene, same as the other graph
    operators); direction, duplicate edges and self-loops are
    irrelevant to the result. Isolated nodes (no edges) have no rows
    by construction — there is no node table in the edge relation.

    ``stats``, if given, receives {"rounds": n, "rss_mb": [...]} — the
    same probe contract as _cc_labels.
    """
    e = _symmetrize(edges, src, dst, directed=True)  # cast + NULL-drop;
    # _cc_labels symmetrizes internally, one direction suffices here
    labels = _cc_labels(
        e.select(F.col("_s").alias("l_rank"), F.col("_d").alias("r_rank")),
        stats)
    return labels.select("node", F.col("label").alias("component"))


def _driver_rss_mb() -> float:
    """Current driver-process resident set (MiB) from /proc — the stress
    harness charts this per cc round to prove localCheckpoint keeps the
    logical plan (and thus driver heap) flat across iterations."""
    try:
        with open("/proc/self/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return round(int(line.split()[1]) / 1024, 1)
    except OSError:
        pass
    return float("nan")


def _cc_losers(pairs: DataFrame, stats: dict | None = None) -> DataFrame:
    """Non-minimum members of every connected component as (_rank)
    rows — ``_cc_labels`` filtered to label != node (the component
    minimum is always its own label)."""
    labels = _cc_labels(pairs, stats)
    return (labels.filter(F.col("label") != F.col("node"))
            .select(F.col("node").alias("_rank")))


def _cc_labels_local(edges: DataFrame) -> DataFrame | None:
    """Single-task exact collapse of a SMALL match graph
    (core/route.single_task; None above the "cc_edges" bound):
    union-find with attach-under-minimum, so every root is its
    component's minimum sort key — bit-identical to the distributed
    min-label fixpoint, computed in one executor task with no driver
    collect. Handles the same label domains as the distributed rounds
    (numeric / string / struct sort keys; struct fields compare
    field-wise with NULL ordered first, matching Spark's ordering)."""
    dtype = edges.schema["a"].dataType
    out_schema = T.StructType([T.StructField("node", dtype),
                               T.StructField("label", dtype)])
    names = ([f.name for f in dtype.fields]
             if isinstance(dtype, T.StructType) else None)

    def fold(pdfs):
        import pandas as pd

        def canon(v):
            # struct rows arrive as dicts; tuples are hashable + ordered
            return tuple(v[n] for n in names) if names is not None else v

        def okey(v):
            # Spark ordering: a NULL struct field sorts before any value
            if names is None:
                return v
            return tuple((0,) if f is None else (1, f) for f in v)

        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for pdf in pdfs:
            for a, b in zip(pdf["a"], pdf["b"]):
                a, b = canon(a), canon(b)
                if a not in parent:
                    parent[a] = a
                if b not in parent:
                    parent[b] = b
                ra, rb = find(a), find(b)
                if ra != rb:
                    if okey(ra) <= okey(rb):
                        parent[rb] = ra
                    else:
                        parent[ra] = rb
        if parent:
            nodes = list(parent)
            labels = [find(n) for n in nodes]
            if names is not None:
                nodes = [dict(zip(names, n)) for n in nodes]
                labels = [dict(zip(names, l)) for l in labels]
            yield pd.DataFrame({"node": nodes, "label": labels})

    return route.single_task(edges, "cc_edges", fold, out_schema)


def _cc_labels(pairs: DataFrame, stats: dict | None = None) -> DataFrame:
    """Exact connected components by min-label propagation over the
    match graph (nodes = the unique ``_rank`` sort keys). Returns a
    (node, label) row per node that appears in ``pairs``, where label
    is the component's minimum node id — the survivor-policy layer
    (dedup keep_by) ranks members within each label group.

    Each round combines neighbor-min propagation with pointer jumping
    (label-of-label), so the fixpoint arrives in O(log diameter) rounds
    — a 2^64-long chain would converge inside the 64-round cap. If the
    cap is somehow hit without convergence, raise instead of silently
    returning labels that would violate the documented one-survivor-per-
    cluster contract (ADVICE r1, union_dataset.py:150).

    ``stats``, if given, receives {"rounds": n, "rss_mb": [per-round
    driver RSS]} so the stress harness (tools/cc_stress.py) can assert
    O(log d) rounds and flat driver memory (VERDICT r3 next #4)."""
    edges = (pairs.select(F.col("l_rank").alias("a"), F.col("r_rank").alias("b"))
             .unionByName(pairs.select(F.col("r_rank").alias("a"),
                                       F.col("l_rank").alias("b"))))
    # localCheckpoint, not persist: each round's plan references
    # `labels` three times, so without lineage truncation the logical
    # plan grows 3^rounds and the driver OOMs while analyzing round ~8.
    # Checkpointing materializes the rows AND cuts the plan — the same
    # fix GraphFrames uses for iterative label propagation.
    edges = edges.localCheckpoint()
    # scale-adaptive collapse (guide §2: derive the plan from input
    # size, don't pay distributed-round latency on small graphs): the
    # count is a metadata-cheap job over the just-checkpointed blocks
    local = _cc_labels_local(edges)
    if local is not None:
        if stats is not None:
            stats.setdefault("rss_mb", []).append(_driver_rss_mb())
            stats["rounds"] = stats.get("rounds", 0) + 1
            stats["local"] = True
        return local.localCheckpoint(eager=False)
    labels = (edges.select(F.col("a").alias("node")).distinct()
              .withColumn("label", F.col("node")).localCheckpoint())
    # Round shape (optimization r7): ONE join + ONE partial-aggregated
    # min exchange per round, over the union graph
    #     edges ∪ (node -> label) ∪ (label -> node) ∪ (node -> node).
    # min-label over that graph is simultaneously neighbor-min
    # propagation, pointer jumping (label[label[a]] arrives via the
    # node->label edge) and child-push (label-holders absorb their
    # children's labels via the reversed edge), so it contracts at
    # least as fast per round as the former 3-join plan while running
    # a single shuffle pair. The tagged self-edge delivers each node's
    # OWN previous label to its group, which both keeps the update
    # monotone (new <= old) and lets the round detect convergence
    # exactly — count(new != old) as a second tiny aggregate over the
    # checkpointed round frame — replacing the former join + count
    # job. Labels stay fully generic (numeric or struct sort keys).
    # The lazy localCheckpoint is materialized by the convergence
    # aggregate: one Spark job per round.
    changed = 1
    fwd = edges.withColumn("_self", F.lit(False))
    for _ in range(64):
        ptr = labels.select(F.col("node").alias("a"),
                            F.col("label").alias("b"),
                            F.lit(False).alias("_self"))
        rev = labels.select(F.col("label").alias("a"),
                            F.col("node").alias("b"),
                            F.lit(False).alias("_self"))
        own = labels.select(F.col("node").alias("a"),
                            F.col("node").alias("b"),
                            F.lit(True).alias("_self"))
        rnd = (fwd.unionByName(ptr).unionByName(rev).unionByName(own)
               .join(labels.withColumnRenamed("node", "b"), "b")
               .groupBy("a")
               .agg(F.min("label").alias("label"),
                    F.min(F.when(F.col("_self"), F.col("label")))
                    .alias("_old"))
               .localCheckpoint(eager=False))
        changed = int(rnd.agg(F.sum(
            F.when(~F.col("label").eqNullSafe(F.col("_old")), 1).otherwise(0))
        ).first()[0] or 0)
        labels = rnd.select(F.col("a").alias("node"), "label")
        if stats is not None:
            stats.setdefault("rss_mb", []).append(_driver_rss_mb())
            stats["rounds"] = stats.get("rounds", 0) + 1
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            "connected-component label propagation did not "
            "converge within 64 rounds — refusing to return a partial "
            "collapse (one-survivor-per-cluster contract)")
    return labels


def _kcore_local(cur: DataFrame, k: int, max_rounds: int,
                 node: str) -> DataFrame | None:
    """Single-task peeling over a small canonical edge set
    (core/route.single_task; None above the "graph_edges" bound):
    identical fixpoint semantics (drop degree-<k nodes, induce, repeat;
    bounded by ``max_rounds``; final degree-filter pass), via bincount
    on remapped endpoints."""
    schema = T.StructType([T.StructField(node, T.LongType())])

    def fold(pdfs):
        import numpy as np
        import pandas as pd
        a, b = route.int64_columns(pdfs, "_a", "_b")
        if a.size == 0:
            return
        nodes = np.unique(np.concatenate([a, b]))
        ai = np.searchsorted(nodes, a)
        bi = np.searchsorted(nodes, b)
        alive = np.ones(a.size, bool)
        for _ in range(max_rounds):
            deg = (np.bincount(ai[alive], minlength=nodes.size)
                   + np.bincount(bi[alive], minlength=nodes.size))
            keep = deg >= k
            nxt = alive & keep[ai] & keep[bi]
            if nxt.sum() == alive.sum():
                alive = nxt
                break
            alive = nxt
        deg = (np.bincount(ai[alive], minlength=nodes.size)
               + np.bincount(bi[alive], minlength=nodes.size))
        yield pd.DataFrame({node: nodes[deg >= k]})

    return route.single_task(cur, "graph_edges", fold, schema)


def kcore(edges: DataFrame, k: int, src: str = "orig_node_id",
          dst: str = "dest_node_id", node: str = "node",
          max_rounds: int = 1000) -> DataFrame:
    """The k-core of the undirected simple graph: the node set of the
    maximal subgraph in which every node has degree >= ``k``,
    computed by the standard iterative peeling — drop all nodes whose
    CURRENT degree is below k, recompute degrees on the induced
    subgraph, repeat to fixpoint. Returns one ``node`` column.

    Scale shape: each round is one partial-aggregated degree count +
    two semi-joins to induce the surviving edge set, with
    ``localCheckpoint`` lineage cuts; rounds are bounded by the
    longest peel cascade (the graph's degeneracy ordering depth), and
    the loop exits as soon as a round removes nothing. Nothing is
    ever quadratic: peeling touches only the shrinking edge relation.
    """
    if not isinstance(k, int) or k < 1:
        raise InputException("k must be a positive integer")
    s, d = F.col(src).cast("long"), F.col(dst).cast("long")
    cur = (edges.select(F.least(s, d).alias("_a"),
                        F.greatest(s, d).alias("_b"))
           .filter(F.col("_a").isNotNull() & (F.col("_a") != F.col("_b")))
           .distinct().localCheckpoint())
    local = _kcore_local(cur, k, max_rounds, node)
    if local is not None:
        return local
    for _ in range(max_rounds):
        deg = (cur.select(F.col("_a").alias("_n"))
               .unionAll(cur.select(F.col("_b").alias("_n")))
               .groupBy("_n").agg(F.count(F.lit(1)).alias("_deg")))
        keep = deg.filter(F.col("_deg") >= k).select("_n").localCheckpoint()
        nxt = (cur.join(keep.select(F.col("_n").alias("_a")), "_a",
                        "left_semi")
               .join(keep.select(F.col("_n").alias("_b")), "_b",
                     "left_semi")
               .localCheckpoint())
        if nxt.count() == cur.count():
            cur = nxt
            break
        cur = nxt
    surv = (cur.select(F.col("_a").alias("_n"))
            .unionAll(cur.select(F.col("_b").alias("_n")))
            .groupBy("_n").agg(F.count(F.lit(1)).alias("_deg"))
            .filter(F.col("_deg") >= k))
    return surv.select(F.col("_n").alias(node))


def neighbor_jaccard(edges: DataFrame, k: int = 50, min_common: int = 1,
                     src: str = "orig_node_id", dst: str = "dest_node_id",
                     max_degree: int | None = None) -> DataFrame:
    """Link prediction by neighbor-set Jaccard: for every NON-edge
    pair (u < v) sharing at least ``min_common`` neighbors, score

        jaccard_scaled = (|N(u) & N(v)| * 1_000_000)
                         DIV (deg(u) + deg(v) - |N(u) & N(v)|)

    over the undirected simple graph, and return the top-``k`` pairs
    by (score desc, u, v). Pure integer arithmetic — any engine
    replays the ranking bit-exactly.

    Scale shape: candidate pairs come only from shared middles (one
    self-join of the adjacency on the middle node with u < v — the
    same wedge shape as triangle_count), so cost is sum(deg(m)^2),
    never all-pairs. On power-law graphs a celebrity middle makes
    that term quadratic: pass ``max_degree`` to drop hub middles from
    PAIR GENERATION only (their edges still count toward degrees and
    intersections found via other middles) — the standard
    hub-sampling recall trade, documented rather than silent.
    """
    if min_common < 1:
        raise InputException("min_common must be >= 1")
    s, d = F.col(src).cast("long"), F.col(dst).cast("long")
    canon = (edges.select(F.least(s, d).alias("_a"),
                          F.greatest(s, d).alias("_b"))
             .filter(F.col("_a").isNotNull() & (F.col("_a") != F.col("_b")))
             .distinct().localCheckpoint())
    sym = (canon.select(F.col("_a").alias("_m"), F.col("_b").alias("_x"))
           .unionAll(canon.select(F.col("_b").alias("_m"),
                                  F.col("_a").alias("_x"))))
    deg = sym.groupBy("_m").agg(F.count(F.lit(1)).alias("_deg"))
    mids = sym
    if max_degree is not None:
        mids = sym.join(
            deg.filter(F.col("_deg") <= max_degree).select("_m"),
            "_m", "left_semi")
    a = mids.select("_m", F.col("_x").alias("u"))
    b = mids.select("_m", F.col("_x").alias("v"))
    common = (a.join(b, "_m").filter(F.col("u") < F.col("v"))
              .groupBy("u", "v").agg(F.count(F.lit(1)).alias("common"))
              .filter(F.col("common") >= min_common))
    non_edge = common.join(
        canon.select(F.col("_a").alias("u"), F.col("_b").alias("v")),
        ["u", "v"], "left_anti")
    scored = (non_edge
              .join(deg.select(F.col("_m").alias("u"),
                               F.col("_deg").alias("_du")), "u")
              .join(deg.select(F.col("_m").alias("v"),
                               F.col("_deg").alias("_dv")), "v")
              .select("u", "v", F.col("common").cast("long"),
                      F.expr("CAST(common * 1000000 DIV "
                             "(_du + _dv - common) AS BIGINT)")
                      .alias("jaccard_scaled")))
    return (scored.orderBy(F.desc("jaccard_scaled"), F.asc("u"),
                           F.asc("v")).limit(int(k)))
