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
the same discipline as union_dataset._cc_labels, without which the
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

import os

from pyspark.sql import DataFrame, functions as F, types as T

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


#: Row bound for the single-task traversal fast path (optimization r7,
#: guide §2: derive the plan from input size). An edge relation at or
#: below this many rows runs the identical iterative algorithm inside
#: ONE executor task on dense numpy arrays instead of paying
#: per-round shuffle latency; larger graphs take the distributed
#: rounds unchanged. Env-tunable for cluster profiles; set 0 to force
#: the distributed path.
_GRAPH_LOCAL_MAX_EDGES = int(os.environ.get(
    "TDEI_GRAPH_LOCAL_MAX_EDGES", str(2_000_000)))


def _seed_nodes(seeds: DataFrame, node: str) -> DataFrame:
    """Seed ids as a long ``_n`` column, NULLs dropped: a NULL seed
    reaches nothing, and both the local folds (which cannot hold a NULL
    in an int64 array) and the distributed layer 0 read this relation."""
    return (seeds.select(F.col(node).cast("long").alias("_n"))
            .filter(F.col("_n").isNotNull()))


def _hop_distance_local(sym: DataFrame, seeds: DataFrame, max_hops: int,
                        node: str) -> DataFrame:
    """Single-task BFS over the probed-small symmetric edge relation:
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
        es, ed, sd = [], [], []
        for pdf in pdfs:
            seed_mask = pdf["_seed"].to_numpy()
            s = pdf["_s"].to_numpy(dtype=np.int64)
            d = pdf["_d"].to_numpy(dtype=np.int64)
            es.append(s[~seed_mask])
            ed.append(d[~seed_mask])
            sd.append(s[seed_mask])
        s = np.concatenate(es) if es else np.empty(0, np.int64)
        d = np.concatenate(ed) if ed else np.empty(0, np.int64)
        q = np.concatenate(sd) if sd else np.empty(0, np.int64)
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

    return tagged.coalesce(1).mapInPandas(fold, schema)


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
    if _GRAPH_LOCAL_MAX_EDGES > 0 and sym.count() <= _GRAPH_LOCAL_MAX_EDGES:
        return _hop_distance_local(sym, seeds, max_hops, node)
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
                            max_rounds: int, node: str) -> DataFrame:
    """Single-task synchronous Bellman-Ford over the probed-small
    weighted edge relation: identical round semantics (dist after
    round r = exact integer min over walks of <= r edges, early exit
    when a round improves nothing), via ``np.minimum.at`` on int64
    arrays. Seeds ride along as tagged zero-weight self rows."""
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
        es, ed, ew, sd = [], [], [], []
        for pdf in pdfs:
            seed_mask = pdf["_seed"].to_numpy()
            s = pdf["_s"].to_numpy(dtype=np.int64)
            d = pdf["_d"].to_numpy(dtype=np.int64)
            w = pdf["_w"].to_numpy(dtype=np.int64)
            es.append(s[~seed_mask])
            ed.append(d[~seed_mask])
            ew.append(w[~seed_mask])
            sd.append(s[seed_mask])
        s = np.concatenate(es) if es else np.empty(0, np.int64)
        d = np.concatenate(ed) if ed else np.empty(0, np.int64)
        w = np.concatenate(ew) if ew else np.empty(0, np.int64)
        q = np.concatenate(sd) if sd else np.empty(0, np.int64)
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

    return tagged.coalesce(1).mapInPandas(fold, schema)


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
    if _GRAPH_LOCAL_MAX_EDGES > 0 and sym.count() <= _GRAPH_LOCAL_MAX_EDGES:
        return _network_distance_local(sym, seeds, max_rounds, node)
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
    local = (_GRAPH_LOCAL_MAX_EDGES > 0
             and e.count() <= _GRAPH_LOCAL_MAX_EDGES)
    nodes = (e.select(F.col("_s").alias("_n"))
             .unionAll(e.select(F.col("_d").alias("_n")))
             .distinct().localCheckpoint())
    ej = None
    if not local:
        ej = (e.join(e.groupBy("_s").agg(F.count("*").alias("_od")), "_s")
              .localCheckpoint())
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
    if local:
        # single-task iteration over the probed-small edge relation
        # (guide §2): identical integer recurrence on dense arrays, the
        # envelope guard above having already run driver-side
        schema = T.StructType([T.StructField(node, T.LongType()),
                               T.StructField("pr", T.LongType())])
        iters, dnum, dden = n_iter, damping_num, damping_den

        def fold(pdfs):
            import numpy as np
            import pandas as pd
            ss, dd = [], []
            for pdf in pdfs:
                ss.append(pdf["_s"].to_numpy(dtype=np.int64))
                dd.append(pdf["_d"].to_numpy(dtype=np.int64))
            s = np.concatenate(ss) if ss else np.empty(0, np.int64)
            d = np.concatenate(dd) if dd else np.empty(0, np.int64)
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

        return e.coalesce(1).mapInPandas(fold, schema)
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
    (union_dataset._cc_labels): each round combines neighbor-min with
    pointer jumping (label-of-label), so the fixpoint arrives in
    O(log diameter) rounds with localCheckpoint lineage cuts — a
    10^12-edge graph pays O(log d) joins, never a per-node loop.
    NULL endpoints drop (dirty-edge hygiene, same as the other graph
    operators); direction, duplicate edges and self-loops are
    irrelevant to the result. Isolated nodes (no edges) have no rows
    by construction — there is no node table in the edge relation.

    ``stats``, if given, receives {"rounds": n, "rss_mb": [...]} — the
    same probe contract as union_dataset._cc_labels.
    """
    from .union_dataset import _cc_labels
    e = _symmetrize(edges, src, dst, directed=True)  # cast + NULL-drop;
    # _cc_labels symmetrizes internally, one direction suffices here
    labels = _cc_labels(
        e.select(F.col("_s").alias("l_rank"), F.col("_d").alias("r_rank")),
        stats)
    return labels.select("node", F.col("label").alias("component"))


def _kcore_local(cur: DataFrame, k: int, max_rounds: int,
                 node: str) -> DataFrame:
    """Single-task peeling over the probed-small canonical edge set:
    identical fixpoint semantics (drop degree-<k nodes, induce, repeat;
    bounded by ``max_rounds``; final degree-filter pass), via bincount
    on remapped endpoints."""
    schema = T.StructType([T.StructField(node, T.LongType())])

    def fold(pdfs):
        import numpy as np
        import pandas as pd
        aa, bb = [], []
        for pdf in pdfs:
            aa.append(pdf["_a"].to_numpy(dtype=np.int64))
            bb.append(pdf["_b"].to_numpy(dtype=np.int64))
        a = np.concatenate(aa) if aa else np.empty(0, np.int64)
        b = np.concatenate(bb) if bb else np.empty(0, np.int64)
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

    return cur.coalesce(1).mapInPandas(fold, schema)


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
    if _GRAPH_LOCAL_MAX_EDGES > 0 and cur.count() <= _GRAPH_LOCAL_MAX_EDGES:
        return _kcore_local(cur, k, max_rounds, node)
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
