"""Distributed connected components (contraction + forest flattening).

Used for near-duplicate CLUSTERING: LSH/simhash produce pairwise
edges; the duplicate groups are the connected components (a pair list
is not a dedup decision — A~B, B~C must collapse to one cluster even
when A~C was never emitted as a pair). No reference counterpart
(skyway has no joins — SURVEY.md §2.4).

Algorithm (scale rationale): plain min-label propagation re-joins the
FULL symmetrized edge list every round — O(E) shuffle x O(diameter)
rounds, which at 100 TB means re-shuffling the whole pair corpus per
round. Here each outer round instead

1. builds the min-pointer forest of the CONTRACTED edge list ``C``
   (each label points at the minimum of its closed neighborhood —
   pointers strictly decrease, so the pointer graph is a forest);
2. flattens that forest to its roots by pointer jumping on the
   LABEL-SIZED map only (``m := m∘m`` until idempotent — doubling, so
   O(log depth) small self-joins; a 500-node chain collapses in ONE
   outer round, never touching the edge corpus);
3. contracts ``C`` through the root map and composes the map into the
   full node->label table with one keyed join each.

``C`` shrinks geometrically (near-dup blobs collapse to single
supernodes in round 1), so late rounds shuffle kilobytes, not the
corpus. All joins are keyed by node/label id (AQE handles hub skew);
lineage is truncated with localCheckpoint so plans don't grow with
iteration count. Convergence = contracted edge list empties; the
``max_iter`` guard raises rather than silently returning partial
labels.

Invariant: labels only decrease and always name a node inside the
component; the minimum node of a component never adopts another
label, so at fixpoint every node carries the component-min id —
identical output to naive propagation (pinned by the union-find
mirror in tests/test_datapipe.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from skyway_spark.plans.session import local_frame


def _root_map(c: DataFrame) -> DataFrame:
    """Flatten the min-pointer forest of edge list ``c`` to its roots.

    Returns (x, m) with m = the local-min root reachable from x by
    repeatedly following min-closed-neighborhood pointers; only rows
    with m < x. All work is on the label-sized map, not the edges.
    """
    sym = c.unionByName(c.select(F.col("t").alias("s"), F.col("s").alias("t")))
    m = (
        sym.groupBy("s")
        .agg(F.min("t").alias("m"))
        .where(F.col("m") < F.col("s"))
        .select(F.col("s").alias("x"), "m")
        .localCheckpoint(eager=True)
    )
    for _ in range(40):
        j = (
            m.join(m.select(F.col("x").alias("m"), F.col("m").alias("m2")), "m", "left")
            .select("x", F.coalesce("m2", "m").alias("m"), (F.col("m2") < F.col("m")).alias("__chg"))
            .localCheckpoint(eager=True)
        )
        changed = not j.where(F.col("__chg")).limit(1).isEmpty()
        m = j.drop("__chg")
        if not changed:
            return m
    raise RuntimeError("pointer-forest flattening did not converge")


def connected_components(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """(node, component) for every node appearing in ``edges``;
    component = min node id reachable (deterministic canonical id)."""
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("t"))
    c = (
        e.where(F.col("s") != F.col("t"))
        .select(F.least("s", "t").alias("s"), F.greatest("s", "t").alias("t"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        e.select(F.col("s").alias("n"))
        .unionByName(e.select(F.col("t").alias("n")))
        .distinct()
        .withColumn("label", F.col("n"))
        .localCheckpoint(eager=True)
    )
    for _ in range(25):
        if c.limit(1).isEmpty():
            return labels.select(
                F.col("n").alias("node"), F.col("label").alias("component")
            )
        m = _root_map(c)
        # contract the edge list through the root map
        c = (
            c.join(m.select(F.col("x").alias("s"), F.col("m").alias("sm")), "s", "left")
            .join(m.select(F.col("x").alias("t"), F.col("m").alias("tm")), "t", "left")
            .select(
                F.coalesce("sm", F.col("s")).alias("s"),
                F.coalesce("tm", F.col("t")).alias("t"),
            )
            .where(F.col("s") != F.col("t"))
            .select(F.least("s", "t").alias("s"), F.greatest("s", "t").alias("t"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # compose into the full label table (one keyed join; m is tiny)
        labels = (
            labels.join(m.select(F.col("x").alias("label"), "m"), "label", "left")
            .select("n", F.coalesce("m", F.col("label")).alias("label"))
            .localCheckpoint(eager=True)
        )
    raise RuntimeError("connected_components did not converge in 25 rounds")


def triangle_stats(edges: DataFrame) -> DataFrame:
    """One-row global graph stats: (n_nodes, n_edges, max_degree,
    n_triangles) — all integers, so bit-exact on any engine.

    Triangles via the oriented wedge join: canonicalize each edge
    a < b, then count (a,b) ⋈ (b,c) wedges closed by (a,c) — every
    triangle a < b < c is produced exactly once.  Scale shape: both
    joins are int64 equi-joins on node ids (AQE splits hub skew); a
    production deployment orients by (degree, id) instead of raw id to
    bound wedge fan-out on power-law graphs — same count, same plan
    shape, one extra degree join — which id-orientation here stands in
    for on the synthetic bounded-degree fixtures.
    """
    e = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .where(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
    )
    e.persist()
    try:
        nodes = e.select(F.col("a").alias("n")).unionByName(
            e.select(F.col("b").alias("n"))
        )
        deg = nodes.groupBy("n").agg(F.count(F.lit(1)).alias("d"))
        wedges = e.join(
            e.select(F.col("a").alias("b"), F.col("b").alias("c")), "b"
        )  # (a < b < c)
        tri = wedges.join(
            e.select(F.col("a").alias("a"), F.col("b").alias("c")),
            ["a", "c"],
            "left_semi",
        )
        # the output is ONE row: evaluate eagerly so the cached edge
        # table can be unpersisted deterministically (a lazy return
        # would either leak the cache or recompute `e` five times)
        row = (
            e.agg(F.count(F.lit(1)).alias("n_edges"))
            .crossJoin(
                deg.agg(F.count(F.lit(1)).alias("n_nodes"), F.max("d").alias("max_degree"))
            )
            .crossJoin(tri.agg(F.count(F.lit(1)).alias("n_triangles")))
            .select("n_nodes", "n_edges", "max_degree", "n_triangles")
            .collect()[0]
        )
    finally:
        e.unpersist()
    return local_frame(
        edges.sparkSession, [row], "n_nodes long, n_edges long, max_degree long, n_triangles long"
    )


def pagerank_int(edges: DataFrame, iters: int = 3) -> DataFrame:
    """Engine-exact PageRank via integer mass-passing: total rank mass
    is ``mass`` = 10^12 integer units split evenly at init, and every division
    (out-degree split, damping) is int64 floor division — so each
    iteration is bit-identical on any engine and the trained ranks
    carry an exact SQL oracle (the same quantization trick as
    operators/kmeans.py; rounding mass leaks out of the system, which
    only shifts scores by ~iters units in 10^12).

    r_0(v)   = mass div n
    r_t+1(v) = (100-damp) * (mass div n) div 100      (damp = 85)
               + damp * sum_{u->v}(r_t(u) div outdeg(u)) div 100

    Dangling-node mass is dropped (documented divergence from the
    redistribute-evenly formulation — on an undirected/symmetrized
    graph every node with an edge has outdeg >= 1, so nothing
    dangles).

    Output: (node, rank) for every node appearing in ``edges``.

    Scale shape (the Pregel-free formulation): per iteration ONE
    edge-keyed shuffle (ranks join edges on src — ranks is node-sized,
    so at web scale AQE broadcasts it against the big edge list or
    co-partitions both on node id) followed by one map-side-combined
    sum groupBy on dst.  ``iters`` is a fixed small constant; no
    driver round-trips beyond the single node count.
    """
    mass, damp_pct = 10**12, 85
    e = edges.select(F.col("src").alias("s"), F.col("dst").alias("t"))
    nodes = e.select(F.col("s").alias("node")).union(
        e.select(F.col("t").alias("node"))
    ).distinct().localCheckpoint(eager=True)
    n = nodes.count()
    if n == 0:
        # empty graph (e.g. no dense cells at tiny scale): an empty
        # rank table with the right schema, not a ZeroDivisionError
        return nodes.withColumn("rank", F.lit(0).cast("long"))
    deg = e.groupBy(F.col("s").alias("node")).agg(F.count(F.lit(1)).alias("deg"))
    base = (100 - damp_pct) * (mass // n) // 100
    ranks = nodes.withColumn("rank", F.lit(mass // n).cast("long"))
    for _ in range(iters):
        contrib = (
            ranks.join(deg, "node")
            .join(e, F.col("node") == F.col("s"))
            .select(F.col("t").alias("node"), F.expr("rank div deg").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = nodes.join(contrib, "node", "left").select(
            "node",
            (
                F.lit(base).cast("long")
                + F.expr(f"{damp_pct} * coalesce(inflow, 0L) div 100")
            ).alias("rank"),
        )
        # truncate lineage: each iteration's plan would otherwise nest
        # the previous one (same policy as connected_components)
        ranks = ranks.localCheckpoint(eager=True)
    return ranks


BF_INF = 1 << 62  # unreachable sentinel: INF + max_weight stays < 2^63


def bellman_ford(
    edges: DataFrame,
    sources: list[int],
    iters: int = 3,
) -> DataFrame:
    """Bounded-hop single/multi-source shortest paths by synchronous
    Bellman-Ford relaxation: (node, dist) for every node reachable
    from ``sources`` within ``iters`` relaxation rounds, dist the
    exact integer path weight.

    All-integer (int64 weights, min-combine, INF = 2^62 sentinel so no
    NULL three-valued-logic divergence between engines), so ``iters``
    rounds are bit-exact and a SQL oracle chains the same rounds as
    CTEs.  Each edge weighs 1 + ((src + dst) % 7) — a deterministic
    synthetic toll.

    Scale shape (identical to pagerank_int's Pregel-free loop): per
    round ONE edge-keyed shuffle (the node-sized frontier joins edges
    on src — AQE broadcasts it when small, co-partitions when not)
    plus one map-side-combined min-groupBy on dst; no driver
    round-trips at all (sources are ids, not data).  Lineage is
    truncated per round so ``iters`` stays O(1) plan depth.
    """
    w = (F.lit(1) + (F.col("s") + F.col("t")) % 7).cast("long")
    e = edges.select(F.col("src").alias("s"), F.col("dst").alias("t"), w.alias("w"))
    nodes = (
        e.select(F.col("s").alias("node"))
        .union(e.select(F.col("t").alias("node")))
        .distinct()
    )
    src_ids = [int(s) for s in sources if s is not None]
    is_src = F.col("node").isin(src_ids) if src_ids else F.lit(False)
    dist = nodes.withColumn(
        "dist",
        F.when(is_src, F.lit(0)).otherwise(F.lit(BF_INF)).cast("long"),
    ).localCheckpoint(eager=False)
    for _ in range(iters):
        relax = (
            dist.where(F.col("dist") < BF_INF)
            .join(e, F.col("node") == F.col("s"))
            .select(F.col("t").alias("node"), (F.col("dist") + F.col("w")).alias("c"))
            .groupBy("node")
            .agg(F.min("c").alias("cand"))
        )
        dist = (
            dist.join(relax, "node", "left")
            .select(
                "node",
                F.least(F.col("dist"), F.coalesce(F.col("cand"), F.lit(BF_INF))).alias(
                    "dist"
                ),
            )
            .localCheckpoint(eager=False)
        )
    return dist.where(F.col("dist") < BF_INF)


def hits_int(edges: DataFrame, iters: int = 2) -> DataFrame:
    """Engine-exact HITS (hubs & authorities) via integer mass with
    per-step max-rescaling: scores start at 2^20, each
    iteration computes hub(u) = sum of authority over u's out-targets
    and authority(v) = sum of hub over v's in-sources, and after each
    half-step the vector is renormalized to peak 2^20 with one
    int64 floor division by the global max — the fixed-point analogue
    of the L-inf normalization in the float formulation, so every
    iteration is bit-identical on any engine (same contract as
    pagerank_int; completes the link-analysis pair).

    Output: (node, hub, auth) for every node in ``edges``.

    Scale shape: per half-step ONE edge-keyed join of the node-sized
    score table against the edge list (broadcastable at web scale) and
    one map-side-combined sum; the global max is a single-row
    aggregate riding a broadcast crossJoin.  Scores localCheckpoint
    per iteration so the lineage stays flat.
    """
    e = edges.select(F.col("src").alias("s"), F.col("dst").alias("t")).distinct()
    e = e.localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("s").alias("node"))
        .union(e.select(F.col("t").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    peak = 1 << 20
    if nodes.limit(1).isEmpty():
        return nodes.select(
            "node",
            F.lit(0).cast("long").alias("hub"),
            F.lit(0).cast("long").alias("auth"),
        )
    auth = nodes.select("node", F.lit(peak).cast("long").alias("x"))

    def rescale(df):
        mx = df.agg(F.max("x").alias("mx"))
        return df.crossJoin(F.broadcast(mx)).select(
            "node", F.expr(f"(x * {peak}) div mx").alias("x")
        )

    hub = None
    for _ in range(iters):
        h = (
            e.join(auth.withColumnRenamed("node", "t"), "t")
            .groupBy(F.col("s").alias("node"))
            .agg(F.sum("x").alias("x"))
        )
        hub = rescale(
            nodes.join(h, "node", "left").select(
                "node", F.coalesce("x", F.lit(0)).cast("long").alias("x")
            )
        ).localCheckpoint(eager=True)
        a = (
            e.join(hub.withColumnRenamed("node", "s"), "s")
            .groupBy(F.col("t").alias("node"))
            .agg(F.sum("x").alias("x"))
        )
        auth = rescale(
            nodes.join(a, "node", "left").select(
                "node", F.coalesce("x", F.lit(0)).cast("long").alias("x")
            )
        ).localCheckpoint(eager=True)
    return (
        hub.withColumnRenamed("x", "hub")
        .join(auth.withColumnRenamed("x", "auth"), "node")
    )


def resolve_redirects(edges: DataFrame, max_hops: int = 64) -> DataFrame:
    """Resolve HTTP-redirect chains over a FUNCTIONAL graph (each URL
    has at most one outgoing redirect) — the crawl-frontier step that
    turns raw fetch targets into canonical final URLs. No reference
    counterpart (skyway has no graph ops — SURVEY.md §2.4); this is a
    web-pipeline north-rule addition.

    Input ``edges``: (src, dst) — one row per redirecting URL.
    Universe = src ∪ dst. Output one row per URL:
      (url, final_url, hops, in_cycle)
    where final_url is the chain's terminal (a URL with no outgoing
    redirect), hops the chain length (0 for terminals), and
    in_cycle=true (final_url/hops NULL) for URLs on or leading into a
    redirect loop — a real crawler marks those dead rather than
    looping.  Chains DEEPER than ``max_hops`` are also flagged
    in_cycle=true (r5 review: after ceil(log2(max_hops)) doubling
    rounds their pointer still redirects, which is indistinguishable
    from — and operationally identical to — a loop: the crawler gives
    up on the URL either way).

    Scale shape: pointer DOUBLING — round k composes the pointer map
    with itself (ptr := ptr∘ptr, hops := hops + hops∘ptr), so a
    ``max_hops`` chain resolves in O(log max_hops) self-joins of the
    URL-SIZED pointer table (never the page corpus, never per-hop
    O(depth) rounds). Each round is one keyed equi-join shuffle of
    (url, ptr, hops); lineage is cut with localCheckpoint so the plan
    stays flat across rounds. Terminals self-point with hop weight 0,
    which makes the composition idempotent at convergence; cycle
    members never reach a terminal, so after ceil(log2(max_hops))
    rounds they are exactly the rows whose pointer still has an
    outgoing edge.
    """
    import math

    e = edges.select(F.col("src").cast("string"), F.col("dst").cast("string"))
    nodes = (
        e.select(F.col("src").alias("url"))
        .unionByName(e.select(F.col("dst").alias("url")))
        .distinct()
    )
    # initial pointer map: redirecting URLs point at their target with
    # weight 1; terminals self-point with weight 0
    ptr = (
        nodes.join(e.withColumnRenamed("src", "url"), "url", "left")
        .select(
            "url",
            F.coalesce("dst", F.col("url")).alias("ptr"),
            F.when(F.col("dst").isNotNull(), 1).otherwise(0).cast("long").alias("hops"),
        )
        .localCheckpoint(eager=True)
    )
    for _ in range(max(1, math.ceil(math.log2(max(2, max_hops))))):
        nxt = ptr.select(
            F.col("url").alias("ptr"),
            F.col("ptr").alias("ptr2"),
            F.col("hops").alias("hops2"),
        )
        ptr = (
            ptr.join(nxt, "ptr")
            .select(
                "url",
                F.col("ptr2").alias("ptr"),
                (F.col("hops") + F.col("hops2")).alias("hops"),
            )
            .localCheckpoint(eager=True)
        )
    # a URL is cycle-bound iff its final pointer still redirects
    redirecting = e.select(F.col("src").alias("ptr")).distinct()
    return (
        ptr.join(redirecting.withColumn("__cyc", F.lit(True)), "ptr", "left")
        .select(
            "url",
            F.when(F.col("__cyc").isNull(), F.col("ptr")).alias("final_url"),
            F.when(F.col("__cyc").isNull(), F.col("hops")).alias("hops"),
            F.coalesce("__cyc", F.lit(False)).alias("in_cycle"),
        )
    )


def k_core(edges: DataFrame, k: int, src: str = "src", dst: str = "dst") -> DataFrame:
    """The k-core of an undirected simple graph: the maximal subgraph
    where every node keeps degree >= k — the standard link-spam /
    dense-community filter on a host graph (peripheral hosts peel
    away, the mutually-linked core remains).

    Classic iterative peeling: drop nodes with degree < k, recompute,
    repeat to fixpoint. Scale shape: each round is one degree groupBy
    + one semi-join filter of the CONTRACTING edge list (the corpus
    never re-enters — edges only shrink); lineage is cut per round
    with localCheckpoint. Convergence in at most |V| rounds, checked
    by node-count fixpoint; 200 rounds without one raise rather than returning
    a non-core.

    Output: (node, degree) — nodes of the k-core with their in-core
    degree.
    """
    sym = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("t"))
        .where(F.col("s") != F.col("t"))
        .unionByName(
            edges.select(F.col(dst).alias("s"), F.col(src).alias("t")).where(
                F.col(src) != F.col(dst)
            )
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev_n = -1
    for _ in range(200):
        deg = sym.groupBy("s").agg(F.count(F.lit(1)).alias("degree"))
        keep = deg.where(F.col("degree") >= k).select("s")
        n = keep.count()
        if n == prev_n:
            return deg.where(F.col("degree") >= k).select(
                F.col("s").alias("node"), "degree"
            )
        prev_n = n
        sym = (
            sym.join(keep, "s")
            .join(keep.withColumnRenamed("s", "t"), "t")
            .select("s", "t")
            .localCheckpoint(eager=True)
        )
    raise RuntimeError("k_core did not converge in 200 rounds")


def ra_link_prediction(edges: DataFrame, top_n: int = 50, scale: int = 1 << 20) -> DataFrame:
    """Resource-Allocation link prediction (Zhou/Lu/Zhang 2009) over an
    undirected graph: for every non-adjacent pair (a, b) with common
    neighbors, score = sum over common z of 1/deg(z) — RA is the
    common-neighbor index that discounts hub intermediaries EXACTLY
    (Adamic-Adar's 1/log deg needs floats; RA's 1/deg quantizes to the
    engine-exact integer ``scale div deg``).

    Output: top ``top_n`` (a, b, n_common, ra_score) by
    (ra_score desc, a, b); true score = ra_score/scale.

    Scale shape: the wedge join is keyed by the CENTER node z (the
    triangle-counting shape, same as triangle_stats) — hub fan-out is
    the known cost, handled by AQE skew splitting; weights join on z
    before the wedge so deg rides the same shuffle; existing edges are
    removed with one anti-join on the normalized pair; top-n is
    TakeOrderedAndProject, never a global sort.
    """
    und = (
        edges.select(F.col("src").alias("s"), F.col("dst").alias("t"))
        .where(F.col("s") != F.col("t"))
        .select(F.least("s", "t").alias("s"), F.greatest("s", "t").alias("t"))
        .distinct()
    )
    sym = und.unionByName(und.select(F.col("t").alias("s"), F.col("s").alias("t")))
    deg = sym.groupBy(F.col("s").alias("z")).agg(F.count(F.lit(1)).alias("deg"))
    wz = deg.select("z", (F.lit(int(scale)).cast("long") / F.col("deg")).cast("long").alias("w"))
    nb = sym.select(F.col("s").alias("z"), F.col("t").alias("n")).join(wz, "z")
    a = nb.select("z", "w", F.col("n").alias("a"))
    b = nb.select(F.col("z").alias("z2"), F.col("n").alias("b"))
    wedges = (
        a.join(b, a.z == b.z2)
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_common"), F.sum("w").alias("ra_score"))
    )
    cand = wedges.join(
        und.select(F.col("s").alias("a"), F.col("t").alias("b")),
        ["a", "b"],
        "left_anti",
    )
    return (
        cand.orderBy(F.col("ra_score").desc(), "a", "b")
        .limit(top_n)
        .select("a", "b", "n_common", "ra_score")
    )


def bfs_hops(
    edges: DataFrame,
    roots: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 6,
) -> DataFrame:
    """Breadth-first shortest-hop distances from ``roots`` over a
    directed edge list, bounded to ``max_hops`` levels, plus the
    shortest-path fan-in (#distinct predecessors at hop-1).

    Output (node, hop, n_parents); n_parents = 0 for roots.

    Scale shape: the classic frontier-expansion BFS — each level is
    ONE equi-join of the (shrinking) frontier against the edge list
    plus an anti-join against the visited map, both keyed on node id;
    the corpus-sized work is the first level, later levels shuffle
    only the frontier.  localCheckpoint truncates the per-level
    lineage (same discipline as connected_components), and the loop
    exits early when a frontier is empty, so dense graphs stop at
    their true eccentricity, not at max_hops."""
    e = (
        edges.select(F.col(src).alias("_s"), F.col(dst).alias("_t"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    visited = (
        roots.select(F.col("node"), F.lit(0).alias("hop"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    frontier = visited
    for h in range(1, max_hops + 1):
        nxt = (
            frontier.join(e, frontier["node"] == e["_s"])
            .select(F.col("_t").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .select("node", F.lit(h).alias("hop"))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        visited = visited.union(nxt).localCheckpoint(eager=True)
        frontier = nxt
    par = (
        visited.select(F.col("node").alias("p"), F.col("hop").alias("p_hop"))
        .join(e, F.col("p") == F.col("_s"))
        .select(F.col("_t").alias("node"), "p_hop", "p")
    )
    fan = (
        visited.join(
            par,
            (visited["node"] == par["node"]) & (par["p_hop"] == visited["hop"] - 1),
        )
        .groupBy(visited["node"].alias("node"), visited["hop"].alias("hop"))
        .agg(F.count_distinct("p").alias("n_parents"))
    )
    return (
        visited.join(fan, ["node", "hop"], "left")
        .select("node", "hop", F.coalesce("n_parents", F.lit(0).cast("long")).alias("n_parents"))
    )


def label_propagation(edges: DataFrame, iters: int = 3) -> DataFrame:
    """Synchronous label-propagation communities (Raghavan et al. '07,
    deterministic variant): labels start as each node's own id; every
    round, each node adopts the most frequent label among its
    UNDIRECTED neighbors, ties broken by smallest label.  Fixed
    ``iters`` synchronous rounds (the async/random classic is
    nondeterministic by construction; the synchronous min-tie variant
    is bit-exact on any engine).  Distinct from connected_components:
    mode-voting splits a connected graph into locally-dense
    communities instead of flooding one label per component.

    Output: (node, label) with string/integer labels drawn from node
    ids.

    Scale shape: per round ONE node-table join against the
    (deduped, symmetrized) edge list plus one (node, label)-keyed
    map-side-combined count and one node-keyed argmax — all
    aggregate-sized; the corpus never re-enters.  Labels
    localCheckpoint per round so the lineage stays flat.
    """
    e = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    und = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    und = und.localCheckpoint(eager=True)
    nodes = und.select(F.col("a").alias("node")).distinct()
    lab = nodes.select("node", F.col("node").alias("label")).localCheckpoint(
        eager=True
    )
    for _ in range(iters):
        votes = (
            und.join(lab.select(F.col("node").alias("b"), "label"), "b")
            .groupBy(F.col("a").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        win = votes.groupBy("node").agg(
            F.min_by("label", F.struct((-F.col("c")).alias("nc"), "label")).alias(
                "new_label"
            )
        )
        lab = (
            lab.join(win, "node", "left")
            .select("node", F.coalesce("new_label", "label").alias("label"))
            .localCheckpoint(eager=True)
        )
    return lab


def assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity (Newman 2002): the Pearson correlation of
    endpoint degrees over edges — positive on social-style graphs
    (hubs link hubs), negative on web/biological ones (hubs link
    leaves).  All moments are exact int64 via the cleared-denominator
    form: over the M undirected edges with endpoint degrees (j, k),

        num = 4*M*sum(j*k)       - (sum(j+k))^2
        den = 2*M*sum(j^2+k^2)   - (sum(j+k))^2
        r   = num / den          (one double division at the end)

    which is the textbook r multiplied through by 4*M^2.

    Output single row: (m_edges, s_jk, s_sum, s_sq, num, den,
    assortativity).

    Scale shape: degrees are ONE map-side-combined groupBy of the
    symmetrized edge list; decorating each edge with its two endpoint
    degrees is two node-keyed equi-joins (the degree table broadcasts
    at web scale); the moments are a single-row aggregate.
    """
    e = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    und = e.where(F.col("a") < F.col("b")).union(
        e.where(F.col("a") > F.col("b")).select(
            F.col("b").alias("a"), F.col("a").alias("b")
        )
    ).distinct().localCheckpoint(eager=True)
    sym = und.union(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = sym.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    dec = (
        und.join(deg.select(F.col("node").alias("a"), F.col("d").alias("j")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("d").alias("k")), "b")
    )
    mom = dec.agg(
        F.count(F.lit(1)).alias("m_edges"),
        F.sum(F.col("j") * F.col("k")).cast("long").alias("s_jk"),
        F.sum(F.col("j") + F.col("k")).cast("long").alias("s_sum"),
        F.sum(F.col("j") * F.col("j") + F.col("k") * F.col("k"))
        .cast("long")
        .alias("s_sq"),
    )
    num = 4 * F.col("m_edges") * F.col("s_jk") - F.col("s_sum") * F.col("s_sum")
    den = 2 * F.col("m_edges") * F.col("s_sq") - F.col("s_sum") * F.col("s_sum")
    return mom.select(
        "m_edges", "s_jk", "s_sum", "s_sq",
        num.alias("num"), den.alias("den"),
        # den = 0 when every endpoint degree is equal (regular graph /
        # single edge): correlation undefined -> NULL, not an error
        F.when(den != 0, num.cast("double") / den.cast("double"))
        .otherwise(F.lit(None).cast("double"))
        .alias("assortativity"),
    )
