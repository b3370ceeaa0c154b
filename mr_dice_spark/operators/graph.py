"""Iterative graph ranking: PageRank over a DataFrame edge list.

Beyond-reference operator — link-authority signals (PageRank / harmonic
centrality over the crawl's host graph) are a standard crawl-curation
quality input (the Common Crawl ranking family); the nearest reference
analogue is nothing — it has no iterative graph surface. Together with
``operators.components`` this pins the repo's iterative-DataFrame
pattern: bounded sweeps, one join + one aggregate per sweep, an eager
``localCheckpoint`` every ``_SWEEP_CKPT_EVERY`` sweeps (:func:`_sweep`;
``k_core`` and ``connected_components`` pin every round) so plans don't
grow with the iteration count.

Every graph operator takes its policy decisions from the three helpers
below: :func:`_node_side` (broadcast at or below ``_BCAST_MAX_ROWS``,
shuffle_hash above), :func:`_undirected` (edge canonicalization) and
:func:`_sweep` (checkpoint cadence).

Scale shape per sweep: the edge list joins a node-sized frame (ranks,
labels, degrees — orders of magnitude below the edge list) that rides a
broadcast below the ceiling, then one node-keyed aggregate.
A FIXED iteration count (default 5) rather than a convergence test keeps
the result deterministic and SQL-restatable (the oracle unrolls the same
sweeps), which is how the golden hash-checks an iterative float
algorithm.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Broadcast ceiling for every node-sized join side (guide §3.1). A
# label/rank/degree frame of n nodes is ~32 B/row serialized, so 4M rows
# is a ~128 MB broadcast — inside the guide's "a few hundred MB is usually
# fine" band and far under the 8 GB hard cap; triangle counting's packed
# out-adjacency frame is m longs in total, the same order. Below the
# ceiling the sweep joins broadcast the node side and THE EDGE LIST IS
# NEVER SHUFFLED (the r11 shuffle_hash shape still exchanged the full edge
# list on the join key every sweep); above it, billion-node graphs keep
# the shuffle_hash path, whose per-partition node-sized hash build always
# fits. Callers pass an edge-row count as the bound: it is one ~10 ms
# count on an already-materialized RDD, and every node owns >= 1 edge row.
_BCAST_MAX_ROWS = 4_000_000

# Checkpoint cadence for iterative sweeps (r12 optimization, guide §2.4/§5):
# checkpointING EVERY sweep was the r5-r11 shape, and profiling the 4-sweep
# copurchase golden at 32 cores showed it is why LPA ANTI-scaled (9.8 s at
# 32c vs 6.3 s at 8c on the r11 driver): each eager checkpoint is its own
# job materializing a 20k-row frame across 2x-cores partitions, so the
# per-sweep fixed cost GROWS with core count while the data does not.
# Checkpointing every 4th sweep instead bounds plan depth (<= 4 joins
# between materializations — the same flat-plan guarantee, amortized) and
# lets Spark run consecutive sweeps inside one job.
_SWEEP_CKPT_EVERY = 4


def _node_side(df: DataFrame, bound: int) -> DataFrame:
    """Build side of a join whose row count is at most ``bound``:
    broadcast at or below ``_BCAST_MAX_ROWS``, shuffle_hash above it."""
    if bound <= _BCAST_MAX_ROWS:
        return F.broadcast(df)
    return df.hint("shuffle_hash")


def _undirected(edges: DataFrame, a: Column, b: Column) -> DataFrame:
    """Distinct canonical ``(a, b)`` pairs with ``a < b``: direction and
    duplicates collapsed, self-loops dropped (``a != b`` also drops
    NULLs). Callers type the endpoints through ``a``/``b``."""
    return (
        edges.select(a.alias("a"), b.alias("b"))
        .where(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
    )


def _sweep(
    state: DataFrame, step: Callable[[DataFrame], DataFrame], n_iter: int
) -> DataFrame:
    """``state`` after ``n_iter`` applications of ``step``, pinned every
    ``_SWEEP_CKPT_EVERY`` sweeps (never after the last: the caller's
    action materializes it)."""
    for i in range(1, n_iter + 1):
        state = step(state)
        if i % _SWEEP_CKPT_EVERY == 0 and i != n_iter:
            state = state.localCheckpoint(eager=True)
    return state


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 5,
    damping: float = 0.85,
    undirected: bool = True,
) -> DataFrame:
    """PageRank after exactly ``n_iter`` sweeps: ``(node, rank)`` for
    every node appearing in ``edges``; ``rank_0 = 1/N`` and
    ``rank_{t+1}(v) = (1-d)/N + d * sum_{u->v} rank_t(u)/outdeg(u)``.
    ``undirected=True`` (default) walks each edge both ways. Directed
    graphs may have rank SINKS (no in-edges): those nodes hold the
    teleport term ``(1-d)/N``; dangling mass (out-degree-0 nodes) is
    dropped, not redistributed — acceptable for authority ranking,
    documented so nobody mistakes this for the stochastic-matrix
    formulation.

    ``N`` (node count) is one bounded driver scalar; everything else is
    joins/aggregates (see module docstring).
    """
    if n_iter < 0:
        raise ValueError(f"n_iter must be >= 0: {n_iter}")
    if not 0.0 < damping < 1.0:
        raise ValueError(f"damping must be in (0, 1): {damping}")
    e = edges.select(F.col(src).alias("__s"), F.col(dst).alias("__d"))
    if undirected:
        # one distinct AFTER the direction union (r12): the r11 shape
        # distinct-ed the raw edges first and the unioned directions
        # again — the second pass makes the first redundant (dedup of a
        # set union ≡ dedup of the raw union), so the undirected path
        # paid an extra edge-sized exchange for nothing
        e = e.union(e.select(F.col("__d").alias("__s"), F.col("__s").alias("__d")))
    e = e.distinct().localCheckpoint(eager=True)  # every sweep re-reads this
    m_rows = e.count()  # bounds the node count (see _BCAST_MAX_ROWS)
    deg = e.groupBy("__s").agg(F.count(F.lit(1)).alias("__deg"))
    # degree is STATIC across sweeps: merge it into the edge list once
    # (and materialize) instead of paying a second edge-sized join per
    # sweep — measured 3.5x -> ~2x at the 10x probe; node-sized deg rides
    # a broadcast below the ceiling so the merge never shuffles e (r12)
    e = e.join(_node_side(deg, m_rows), "__s").localCheckpoint(eager=True)
    # nodes is STATIC too: materialize it once (r12) — unpinned, every
    # sweep's rank rebuild re-ran this edge-sized distinct inside its
    # checkpoint job (5 extra edge-sized exchanges on the 5-sweep golden)
    nodes = e.select("__s").union(e.select("__d")).distinct().localCheckpoint(
        eager=True
    )
    n = nodes.count()
    if n == 0:
        # schema must match the non-empty path (node typed after the edge
        # column) or a union with a previous snapshot breaks only on the
        # empty day
        return nodes.select(
            F.col("__s").alias("node"), F.lit(None).cast("double").alias("rank")
        )
    teleport = (1.0 - damping) / n

    def step(ranks: DataFrame) -> DataFrame:
        # each sweep's only exchange ships node-sized partially-aggregated
        # sums; below the ceiling the edge list is never shuffled (r12)
        contrib = (
            e.join(_node_side(ranks, n), "__s")
            .groupBy("__d")
            .agg(F.sum(F.col("__r") / F.col("__deg")).alias("__c"))
        )
        return nodes.join(
            _node_side(contrib, n), nodes["__s"] == contrib["__d"], "left"
        ).select(
            nodes["__s"],
            (
                F.lit(teleport)
                + F.lit(damping) * F.coalesce(F.col("__c"), F.lit(0.0))
            ).alias("__r"),
        )

    ranks = _sweep(nodes.withColumn("__r", F.lit(1.0 / n)), step, n_iter)
    return ranks.select(F.col("__s").alias("node"), F.col("__r").alias("rank"))


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-node triangle counts over an undirected graph — the clustering
    /cohesion signal (spam-farm detection in crawl graphs, community
    density in interaction graphs) Spark has no built-in for.

    Compact-forward algorithm: normalize to distinct undirected pairs
    (self-loops dropped), then orient every edge from the (degree, node)-
    smaller endpoint to the larger — a DAG in which each triangle
    u ≺ v ≺ w appears exactly once, AT ITS LEAST EDGE (u→v), as a common
    out-neighbor w ∈ N⁺(u) ∩ N⁺(v) (w ∈ N⁺(v) forces v ≺ w, so neither
    (u→w) nor (v→w) re-finds it). The degree ordering caps every
    out-degree at O(√m) — the classic O(m^1.5) bound — so one hub node
    cannot absorb a quadratic block (same hazard class as the fuzzy
    join's constant-prefix collapse, handled here BY the orientation
    rather than by a circuit breaker).

    Returns ``(node, triangles)`` for every node in the graph, zeros
    included. Shapes (r12): one key shuffle to canonicalize, one degree
    aggregate, one aggregate packing out-adjacency ARRAYS (each O(√m)
    long), then the orientation and the two adjacency attachments ride
    BROADCAST joins below ``_BCAST_MAX_ROWS`` canonical edges, which bound
    both metadata frames (shuffle_hash hints above it — per-partition
    node-sized builds, billion-edge safe), and
    ONE explode emits every per-node contribution of an edge in a single
    pass: ``u`` and ``v`` each close ``|N⁺(u) ∩ N⁺(v)|`` triangles at
    this edge and every ``w`` in the intersection closes one. The r11
    shape computed the SAME intersection three times — the per-node
    attribution unioned three ``explode(array_intersect(...))`` branches
    and the planner re-executed the join+intersect pipeline per branch
    (3 Generate nodes, 30 Exchanges, zero reuse in the committed plan) —
    and every join was a SortMergeJoin because checkpointed frames carry
    no size statistics; both are why the golden ANTI-scaled (driver r11:
    15.7 s at 32 cores vs 10.7 s at 8 — more cores, more per-stage
    overhead on the re-executed branches). The canonical edge set and
    the degree frame stay localCheckpoint-pinned (each feeds ≥ 2
    branches; unpinned, the planner re-expanded the upstream scan+join
    into every branch — 188 scans in the r5-shape copurchase plan).
    NOTE the eager-execution tradeoff: calling this function runs Spark
    jobs immediately (the checkpoints materialize) and severs lineage —
    explain-only flows execute real work, and a lost executor recomputes
    nothing (the blocks are re-fetched or the job fails) — accepted for
    the 188-scan re-expansion it prevents.
    """
    e = _undirected(
        edges, F.col(src).cast("long"), F.col(dst).cast("long")
    ).localCheckpoint(eager=True)
    # m bounds both metadata frames (deg <= 2m rows, adjacency payload =
    # m longs total)
    m_edges = e.count()
    und = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = (
        und.groupBy("a").agg(F.count(F.lit(1)).alias("dg")).withColumnRenamed("a", "n")
        .localCheckpoint(eager=True)
    )
    da = deg.select(F.col("n").alias("a"), F.col("dg").alias("da"))
    db = deg.select(F.col("n").alias("b"), F.col("dg").alias("db"))
    ed = e.join(_node_side(da, m_edges), "a").join(_node_side(db, m_edges), "b")
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    orient = ed.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
    )
    if m_edges > _BCAST_MAX_ROWS:
        # on the shuffle path the orientation feeds two shuffled joins
        # plus the adjacency aggregate — pin it so the upstream joins run
        # once (on the broadcast path it is a map-side recompute over the
        # checkpointed edge set and the broadcasts are plan-reused)
        orient = orient.localCheckpoint(eager=True)
    adj = orient.groupBy("u").agg(F.collect_list("v").alias("__nb"))
    nu = adj.select(F.col("u").alias("__ju"), F.col("__nb").alias("__nu"))
    nv = adj.select(F.col("u").alias("__jv"), F.col("__nb").alias("__nv"))
    closed = (
        orient.join(_node_side(nu, m_edges), F.col("u") == F.col("__ju"))
        .join(_node_side(nv, m_edges), F.col("v") == F.col("__jv"))
        .select("u", "v", F.array_intersect("__nu", "__nv").alias("__ws"))
        .where(F.size("__ws") > 0)
    )
    # Single-pass attribution: each closing w is one triangle {u, v, w};
    # per edge, u and v each gain size(ws) triangles and each w gains 1.
    # One explode + one partially-aggregated SUM replaces the r11 3-way
    # union that re-ran the intersection per branch (guide §2.3/§2.4).
    cnt = F.size("__ws").cast("long")
    per_node = (
        closed.select(
            F.explode(
                F.concat(
                    F.array(
                        F.struct(F.col("u").alias("n"), cnt.alias("c")),
                        F.struct(F.col("v").alias("n"), cnt.alias("c")),
                    ),
                    F.transform(
                        "__ws",
                        lambda w: F.struct(
                            w.alias("n"), F.lit(1).cast("long").alias("c")
                        ),
                    ),
                )
            ).alias("__x")
        )
        .select(F.col("__x.n").alias("n"), F.col("__x.c").alias("c"))
        .groupBy("n")
        .agg(F.sum("c").alias("t"))
    )
    return (
        deg.join(_node_side(per_node, m_edges), "n", "left")
        .select(
            F.col("n").alias("node"),
            F.coalesce(F.col("t"), F.lit(0)).cast("long").alias("triangles"),
        )
    )


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 4,
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007) after exactly ``n_iter`` sweeps: every node starts
    labeled with its own id; each sweep it adopts the label most common
    among its DISTINCT neighbors, ties broken by the SMALLEST label —
    the deterministic variant (classic LPA breaks ties randomly, which
    would be neither reproducible nor oracle-checkable). Synchronous
    updates + fixed sweeps keep the result a pure function of the edge
    list, so the oracle can unroll the same sweeps.

    Returns ``(node, community)`` for every node with at least one edge
    (an isolated node has no neighbors to vote, hence no row — mirror of
    the k-core contract).

    Per sweep (r12 shape): one edge⋈label join — label frame broadcast
    below ``_BCAST_MAX_ROWS`` so the edge list is NEVER shuffled,
    shuffle-hash above it — and ONE hash aggregate,
    ``mode(lbl, deterministic=true)`` per node, which is exactly
    "most common label, ties to the smallest" (Spark's deterministic
    mode returns the lowest value among the tied). This fuses the r11
    count-then-max_by pair of aggregates into a single exchange whose
    map side ships partially-merged label->count sketches instead of
    raw votes. Measured on the 4-sweep copurchase golden at sf0.1,
    32 cores: 9.7 s -> 5.8 s warm median, and the 32-core wall drops
    BELOW the 8-core wall (the r11 shape anti-scaled). Checkpoint
    cadence: :func:`_sweep`.
    """
    if n_iter < 0:
        raise ValueError(f"n_iter must be >= 0: {n_iter}")
    e = _undirected(edges, F.col(src).cast("long"), F.col(dst).cast("long"))
    e = e.select(F.col("a").alias("s"), F.col("b").alias("d")).union(
        e.select(F.col("b").alias("s"), F.col("a").alias("d"))
    )
    e = e.localCheckpoint(eager=True)
    labels = e.select(F.col("s").alias("node"), F.col("s").alias("lbl")).distinct()
    # The directed edge-row count bounds the node count (see
    # _BCAST_MAX_ROWS). Only when that bound is inconclusive (big graph,
    # possibly few nodes) is the node frame materialized and counted
    # exactly — there the extra small job is noise against the sweeps it
    # tunes.
    n_nodes = e.count()
    if n_nodes > _BCAST_MAX_ROWS:
        labels = labels.localCheckpoint(eager=True)
        n_nodes = labels.count()

    def step(labels: DataFrame) -> DataFrame:
        lab = _node_side(labels, n_nodes)
        return (
            e.join(lab, e["d"] == lab["node"])
            .groupBy("s")
            .agg(F.mode("lbl", True).alias("lbl"))
            .select(F.col("s").alias("node"), "lbl")
        )

    labels = _sweep(labels, step, n_iter)
    return labels.select("node", F.col("lbl").alias("community"))


def k_core(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    k: int = 2,
    n_iter: int = 5,
) -> DataFrame:
    """k-core peeling after exactly ``n_iter`` rounds: repeatedly drop
    nodes whose degree in the CURRENT subgraph is below ``k`` — the
    density/cohesion filter (spam-cluster isolation in crawl graphs,
    scaffold removal in interaction graphs) between raw degree and full
    community detection.

    FIXED peel count, not a convergence test, for the same reason as
    :func:`pagerank`: determinism and SQL-restatability (the oracle
    unrolls the same rounds). n_iter rounds guarantee the result
    contains the true k-core and equals it once peeling has stabilized;
    callers needing the exact fixpoint raise ``n_iter`` (each round that
    changes nothing is idempotent, so overshooting is safe).

    Returns ``(node, degree)`` for the surviving subgraph. Per round:
    one degree aggregate + two semi-joins (both endpoint filters) — the
    two-exchange message-passing cost — with an eager localCheckpoint so
    the plan stays flat across rounds.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    if n_iter < 0:
        raise ValueError(f"n_iter must be >= 0: {n_iter}")
    e = _undirected(edges, F.col(src).cast("long"), F.col(dst).cast("long"))
    e = e.select(F.col("a").alias("s"), F.col("b").alias("d")).union(
        e.select(F.col("b").alias("s"), F.col("a").alias("d"))
    )
    e = e.localCheckpoint(eager=True)
    # survivor lists only shrink across rounds, so one decision from the
    # initial edge count holds for every round (r12; the r11
    # shuffle_hash-only shape exchanged the edge list TWICE per peel round
    # for the two semi-joins — on the broadcast path the only per-round
    # exchange is the degree count's)
    n_bound = e.count()
    for _ in range(n_iter):
        keep = (
            e.groupBy("s")
            .agg(F.count(F.lit(1)).alias("c"))
            .where(F.col("c") >= k)
            .select("s")
        )
        e = (
            e.join(_node_side(keep, n_bound), "s", "semi")
            .join(_node_side(keep.withColumnRenamed("s", "d"), n_bound), "d", "semi")
            .select("s", "d")
        )
        e = e.localCheckpoint(eager=True)
    return e.groupBy("s").agg(F.count(F.lit(1)).alias("degree")).select(
        F.col("s").alias("node"), "degree"
    )


def modularity(
    edges: DataFrame,
    communities: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    community_col: str = "community",
) -> DataFrame:
    """Per-community Newman modularity terms and conductance — the
    clustering-quality metrics for graph communities (what B-cubed/ARI
    are to ER linkage): given an undirected simple graph and a node ->
    community assignment, emit per community ``(community, n_nodes,
    internal_edges, degree_sum, q_term, conductance)`` where

    * ``q_term = e_c/m - (d_c/(2m))^2`` (Newman & Girvan 2004; the
      global modularity Q is the sum of q_terms),
    * ``conductance = (d_c - 2 e_c) / min(d_c, 2m - d_c)`` (boundary
      edges over the smaller side's volume; NULL when the denominator
      is 0 — a community spanning the whole graph has no outside).

    Edges are canonicalized by :func:`_undirected`, exactly like
    :func:`label_propagation` (self-loops dropped, direction and
    duplicates collapsed), so the
    metrics compose directly over its output. Nodes missing from
    ``communities`` are excluded from every term (their edges still
    count in m).

    Scale shape: the canonical edge list is materialized ONCE and feeds
    three branches (the 1-row edge count, the intra-community count,
    the degree table) — without the checkpoint each branch re-plans the
    upstream edge derivation (the materialize-the-reduced-aggregate
    rule). Labels are node-sized key joins; every aggregate is
    community- or node-keyed; m rides a broadcast 1-row cross join.
    """
    und = _undirected(
        edges, F.col(src).cast("long"), F.col(dst).cast("long")
    ).localCheckpoint(eager=True)
    lab = communities.select(
        F.col(node_col).cast("long").alias("__n"),
        F.col(community_col).cast("long").alias("__c"),
    )
    m1 = und.agg(F.count(F.lit(1)).alias("__m"))
    ee = (
        und.join(lab.select(F.col("__n").alias("a"), F.col("__c").alias("__ca")), "a")
        .join(lab.select(F.col("__n").alias("b"), F.col("__c").alias("__cb")), "b")
        .where(F.col("__ca") == F.col("__cb"))
        .groupBy(F.col("__ca").alias("community"))
        .agg(F.count(F.lit(1)).alias("internal_edges"))
    )
    deg = (
        und.select(F.col("a").alias("__n"))
        .unionAll(und.select(F.col("b").alias("__n")))
        .groupBy("__n")
        .agg(F.count(F.lit(1)).alias("__deg"))
    )
    vol = (
        deg.join(lab, "__n")
        .groupBy(F.col("__c").alias("community"))
        .agg(
            F.sum("__deg").alias("degree_sum"),
            F.count(F.lit(1)).alias("n_nodes"),
        )
    )
    out = (
        vol.join(ee, "community", "left")
        .withColumn("internal_edges", F.coalesce("internal_edges", F.lit(0)))
        .crossJoin(F.broadcast(m1))
    )
    me = F.col("__m").cast("double")
    q = F.col("internal_edges") / me - F.pow(
        F.col("degree_sum") / (2 * me), F.lit(2)
    )
    boundary = F.col("degree_sum") - 2 * F.col("internal_edges")
    cond_den = F.least(F.col("degree_sum"), (2 * me - F.col("degree_sum")))
    return out.select(
        "community",
        F.col("n_nodes").cast("long").alias("n_nodes"),
        F.col("internal_edges").cast("long").alias("internal_edges"),
        F.col("degree_sum").cast("long").alias("degree_sum"),
        # + 0.0 after the round: IEEE -0 + 0 = +0, so a q_term that
        # rounds to negative zero (internal_edges=0, tiny -(d/2m)^2)
        # canonicalizes identically on both engines
        (F.round(q + F.lit(1e-9), 6) + F.lit(0.0)).alias("q_term"),
        (
            F.round(
                F.try_divide(boundary.cast("double"), cond_den) + F.lit(1e-9), 6
            )
            + F.lit(0.0)
        ).alias("conductance"),
    )


def adamic_adar_scores(
    edges: DataFrame,
    max_center_degree: int | None = 100_000,
) -> DataFrame:
    """Adamic-Adar link prediction over an undirected graph: for every
    NON-ADJACENT pair (u, v) at distance 2, ``score = sum over common
    neighbors w of 1 / ln(deg(w))`` — the classic "which parts get
    co-purchased next" / related-item candidate generator (Adamic &
    Adar 2003; the LP baseline that beats raw common-neighbor counts by
    down-weighting promiscuous hubs). Input is an edge list (src, dst);
    direction, duplicates and self-loops are normalized away. Returns
    ``(node_a, node_b, n_common, score)`` with node_a < node_b and the
    score nudge-rounded at 6.

    A wedge center needs >= 2 neighbors, so deg(w) >= 2 on every path
    and ln(deg) is never 0 — no epsilon anywhere.

    Scale shape: wedge work is sum over centers of deg(w)^2 — the same
    quadratic-hub surface as triangle counting, but here the wedge SET
    is the output's candidate set so no orientation trick can cap it.
    ``max_center_degree`` is therefore the standard default-on fail-fast
    breaker (one max aggregate over the degree frame): a hub with 10^6
    neighbors means 10^12 candidate pairs on one shuffle key, which is a
    modeling problem (drop or downweight the hub) rather than something
    to silently grind through. Pass None to opt out deliberately.
    Everything else is equi-joins and hash aggregates: degree join,
    wedge self-join on the center key, pair aggregate, one left-anti
    join against the canonical edge set.
    """
    # four branches derive from the canonical edge set (und -> deg, both
    # wedge join sides via inc, the left-anti join) — pin it so each
    # branch doesn't re-plan the upstream scan + distinct (ADVICE r7; the
    # clustering_coefficients/degree_assortativity convention)
    e = _undirected(
        edges, F.col(edges.columns[0]), F.col(edges.columns[1])
    ).localCheckpoint(eager=True)
    und = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = und.groupBy(F.col("a").alias("w")).agg(F.count(F.lit(1)).alias("deg"))
    if max_center_degree is not None:
        worst = deg.agg(F.max("deg").alias("mx")).first()
        if worst and worst["mx"] and worst["mx"] > max_center_degree:
            raise ValueError(
                f"adamic_adar_scores: a node has degree {worst['mx']} "
                f"(> max_center_degree={max_center_degree}); its wedge set "
                "is quadratic in that degree — remove or downweight hub "
                "nodes first, or raise the cap deliberately"
            )
    # neighbor lists keyed by center: (w, u) for every edge incident to w
    inc = und.select(F.col("a").alias("w"), F.col("b").alias("u"))
    x, y = inc.alias("x"), inc.alias("y")
    wedges = x.join(
        y,
        (F.col("x.w") == F.col("y.w")) & (F.col("x.u") < F.col("y.u")),
    ).select(
        F.col("x.u").alias("node_a"),
        F.col("y.u").alias("node_b"),
        F.col("x.w").alias("w"),
    )
    scored = (
        wedges.join(deg, "w")
        .groupBy("node_a", "node_b")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum(F.lit(1.0) / F.log(F.col("deg").cast("double"))).alias("__s"),
        )
    )
    non_adjacent = scored.join(
        e.select(F.col("a").alias("node_a"), F.col("b").alias("node_b")),
        ["node_a", "node_b"],
        "left_anti",
    )
    return non_adjacent.select(
        "node_a",
        "node_b",
        F.col("n_common").cast("long").alias("n_common"),
        F.round(F.col("__s") + F.lit(1e-9), 6).alias("score"),
    )


def clustering_coefficients(edges: DataFrame) -> DataFrame:
    """Per-node local clustering coefficient ``lcc = 2*triangles /
    (deg*(deg-1))`` — how much of each node's neighborhood is itself
    wired together (Watts & Strogatz). The node-level densification
    readout beside :func:`triangle_counts`' raw counts: in a crawl or
    co-purchase graph, high-degree/high-lcc nodes are dense cores
    (mirror farms, bundle SKUs) while high-degree/low-lcc nodes are
    brokers whose removal fragments the graph.

    Triangle counts come from the compact-forward adjacency
    intersection of :func:`triangle_counts` (degree-oriented, so
    per-source fan-out is O(sqrt m) and no hub absorbs a quadratic
    block); degrees are one
    hash aggregate over the same canonical edge set, which is
    localCheckpoint-pinned since both branches (and the triangle
    pipeline's own degree/orient/close branches) would otherwise
    re-plan the upstream scan each. ``lcc`` is the only float — an
    exact small-integer ratio, correctly rounded identically on both
    engines — and is NULL for degree-1 nodes (no possible wedge,
    fail-closed rather than 0-faked). Returns
    ``(node, degree, triangles, lcc)``."""
    e = _undirected(
        edges, F.col(edges.columns[0]).cast("long"), F.col(edges.columns[1]).cast("long")
    ).localCheckpoint(eager=True)
    und = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = und.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    tri = triangle_counts(e, "a", "b")
    d = F.col("degree").cast("double")
    lcc = F.when(
        F.col("degree") >= 2,
        (2.0 * F.col("triangles").cast("double")) / (d * (d - 1)),
    )
    return deg.join(tri, "node").select(
        "node",
        F.col("degree").cast("long").alias("degree"),
        "triangles",
        F.round(lcc + F.lit(1e-9), 6).alias("lcc"),
    )


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity of an undirected graph (Newman 2002): the
    Pearson correlation between the degrees at the two ends of each
    edge, over both stub orientations. Positive r = hubs attach to hubs
    (social-network shape), negative r = hubs attach to leaves
    (hub-and-spoke / dependency shape) — the one-number topology
    readout that says whether hub-targeted interventions (dedup of a
    boilerplate hub, removal of a spam domain) fragment the graph or
    barely dent it. Input is an edge list (first two columns);
    direction, duplicates and self-loops are normalized away.

    Exact-integer moment form over the 2|E| directed stubs:
    ``r = (M*S_jk - S_j^2) / (M*S_j2 - S_j^2)`` where j,k are endpoint
    degrees (by stub symmetry the j and k marginals coincide, so the
    classic four-moment formula collapses to three sums). Sums are
    accumulated in doubles — exact while M*d_max^2 < 2^53, far past any
    graph whose degree frame fits a breaker-checked pipeline. NULL r on
    regular graphs (every degree equal — zero variance, fail-closed).

    Scale shape: edge canonicalization, one degree hash aggregate, two
    equi-joins of the stub list onto the degree frame, one 1-row
    reduce. The canonical edge set and the degree frame are both
    localCheckpoint-pinned — each feeds 2+ branches (stubs + degrees;
    both join sides + the node count) and would otherwise re-plan the
    upstream scan per branch. Returns one row
    ``(n_nodes, n_edges, m_stubs, r)``."""
    e = _undirected(
        edges, F.col(edges.columns[0]), F.col(edges.columns[1])
    ).localCheckpoint(eager=True)
    und = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = (
        und.groupBy(F.col("a").alias("w"))
        .agg(F.count(F.lit(1)).alias("deg"))
        .localCheckpoint(eager=True)
    )
    stubs = (
        und.join(deg.select(F.col("w").alias("a"), F.col("deg").alias("__j")), "a")
        .join(deg.select(F.col("w").alias("b"), F.col("deg").alias("__k")), "b")
    )
    t = stubs.agg(
        F.count(F.lit(1)).alias("__m"),
        F.sum(F.col("__j").cast("double")).alias("__sj"),
        F.sum(F.col("__j").cast("double") * F.col("__k").cast("double")).alias(
            "__sjk"
        ),
        F.sum(F.col("__j").cast("double") * F.col("__j").cast("double")).alias(
            "__sj2"
        ),
    )
    counts = e.agg(F.count(F.lit(1)).alias("__ne")).crossJoin(
        F.broadcast(deg.agg(F.count(F.lit(1)).alias("__nv")))
    )
    j = t.crossJoin(F.broadcast(counts))
    md = F.col("__m").cast("double")
    r = F.try_divide(
        md * F.col("__sjk") - F.col("__sj") * F.col("__sj"),
        md * F.col("__sj2") - F.col("__sj") * F.col("__sj"),
    )
    return j.select(
        F.col("__nv").cast("long").alias("n_nodes"),
        F.col("__ne").cast("long").alias("n_edges"),
        F.col("__m").cast("long").alias("m_stubs"),
        F.round(r + F.lit(1e-9), 6).alias("r"),
    )
