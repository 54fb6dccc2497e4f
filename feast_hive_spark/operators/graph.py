"""Graph-analytics operators over pair/edge tables.

Connected components lives with the dedup family
(operators/dedup.py: plain propagation + large-star/small-star); this
module holds the general iterative-computation pattern on the same
edge primitives, with PageRank as the canonical instance.

Cross-engine determinism: iterative float math diverges between
engines through summation order, so ranks are carried as BIGINT
fixed-point (1e-12 units) with integer division everywhere — every
iteration is bit-identical in Spark and the DuckDB oracle's chained
CTEs."""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from feast_hive_spark.plans.local import local_frame
from feast_hive_spark.plans.memo import plan_memo

SCALE = 1_000_000_000_000  # 1e-12 rank units


def _driver_pagerank(
    spark, rows, id_type: str, iters: int, damping_pct: int
) -> DataFrame:
    """The same integer recurrence on a collected (small, guarded)
    edge list — bit-identical to the distributed loop because every
    step is BIGINT floor arithmetic."""
    sym = set()
    for r in rows:
        a, b = r[0], r[1]
        if a != b:
            sym.add((a, b))
            sym.add((b, a))
    out_nbrs: dict = {}
    for s, d in sym:
        out_nbrs.setdefault(s, []).append(d)
    deg = {v: len(ns) for v, ns in out_nbrs.items()}
    nn = len(deg)
    if nn == 0:
        return local_frame(spark, [], f"node {id_type}, rank_e12 long")
    # HALF_UP rounding to match Spark's round() (python round() is
    # half-even); all values are positive
    half_up = lambda x: int(math.floor(x + 0.5))  # noqa: E731
    r = {v: half_up(float(SCALE) / nn) for v in deg}
    base = half_up(float(100 - damping_pct) / 100.0 * SCALE / nn)
    for _ in range(iters):
        acc = {v: 0 for v in deg}
        for u, ns in out_nbrs.items():
            c = r[u] // deg[u]
            for d in ns:
                acc[d] += c
        r = {v: base + (damping_pct * a) // 100 for v, a in acc.items()}
    return local_frame(spark, r.items(), f"node {id_type}, rank_e12 long")


def pagerank(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    iters: int = 3,
    damping_pct: int = 85,
    small_graph_threshold: int = 200_000,
) -> DataFrame:
    """Fixed-iteration PageRank over an undirected pair graph (each
    pair becomes two directed edges, so every node has out-degree
    >= 1 — no dangling-mass handling needed).

    ``r_{k+1}(v) = round((100-d)%/N * SCALE) + (d * Σ_{u→v} r_k(u)
    div deg(u)) div 100`` — all BIGINT, floor division, deterministic.
    A fixed small ``iters`` (default 3) is the production shape for
    score features ("2-3 hops of influence"); convergence-to-epsilon
    would just be this loop with a delta check like
    connected_components_star's fixpoint.

    Small-graph fast path (same guardrail pattern as
    connected_components_star): a LIMIT-probe under
    ``small_graph_threshold`` edges routes to a driver loop running
    the IDENTICAL integer recurrence — iterative jobs cost O(iters)
    scheduler rounds regardless of data size, and a dedup pair graph
    is usually tiny.  Set ``small_graph_threshold=0`` to force the
    distributed path.

    Per-iteration cost (distributed path): one join of edges to the
    N-row rank table + one grouped sum — shuffles sized to the GRAPH,
    not the corpus that produced it.  The edge table is cached once; at 3 iterations
    plan growth is linear so no lineage truncation is needed (the
    O(log N)-round star loop in dedup.py shows the localCheckpoint
    variant).  Output: (node, rank_e12).

    Memoized per input plan (plans/memo.py): ranks are a pure function
    of the pair graph + params, so a warm rebuild would replay the
    probe or every iteration for an identical result."""
    return plan_memo(
        pairs.sparkSession,
        pairs,
        ("pagerank", id_a, id_b, iters, damping_pct, small_graph_threshold),
        lambda: _pagerank_build(
            pairs, id_a, id_b, iters, damping_pct, small_graph_threshold
        ),
    )


def _pagerank_build(
    pairs: DataFrame,
    id_a: str,
    id_b: str,
    iters: int,
    damping_pct: int,
    small_graph_threshold: int,
) -> DataFrame:
    if small_graph_threshold:
        # Single bounded probe (same change as connected_components_
        # star, r6): limit(threshold+1).collect() caps shipping at
        # threshold+1 two-column rows regardless of graph size AND
        # executes the upstream pair pipeline once, not twice as the
        # count-then-collect sequence did.
        slim = pairs.select(F.col(id_a), F.col(id_b))
        probe = slim.limit(small_graph_threshold + 1).collect()
        if len(probe) <= small_graph_threshold:
            id_type = dict(pairs.dtypes)[id_a]
            return _driver_pagerank(
                pairs.sparkSession, probe, id_type, iters, damping_pct
            )
    sym = (
        pairs.select(F.col(id_a).alias("s"), F.col(id_b).alias("d"))
        .union(
            pairs.select(F.col(id_b).alias("s"), F.col(id_a).alias("d"))
        )
        .filter(F.col("s") != F.col("d"))
        .distinct()
        .cache()
    )
    deg = sym.groupBy("s").agg(F.count(F.lit(1)).alias("dg"))
    n_row = F.broadcast(deg.agg(F.count(F.lit(1)).alias("nn")))
    base_pct = 100 - damping_pct
    # r0 = round(SCALE / N)
    ranks = deg.crossJoin(n_row).select(
        F.col("s").alias("node"),
        F.round(F.lit(float(SCALE)) / F.col("nn")).cast("long").alias("r"),
    )
    edges_deg = sym.join(deg, "s").cache()
    for _ in range(iters):
        contrib = edges_deg.join(
            ranks, edges_deg.s == ranks.node
        ).select(
            F.col("d"), F.expr("r div dg").alias("__c")
        )
        ranks = (
            contrib.groupBy("d")
            .agg(F.sum("__c").alias("__sum"))
            .crossJoin(n_row)
            .select(
                F.col("d").alias("node"),
                (
                    F.round(F.lit(float(base_pct) / 100.0 * SCALE) / F.col("nn")).cast("long")
                    + F.expr(f"({damping_pct} * __sum) div 100")
                ).alias("r"),
            )
        )
    out = ranks.select(F.col("node"), F.col("r").alias("rank_e12"))
    # Materialize the node-sized result (truncates the iterative
    # lineage), then release the two cached graph tables — otherwise
    # they leak executor storage memory across registry/bench runs.
    out = out.localCheckpoint(eager=True)
    sym.unpersist()
    edges_deg.unpersist()
    return out


def _driver_pagerank_weighted(
    spark,
    edge_rows,
    weight_rows,
    id_type: str,
    iters: int,
    damping_pct: int,
) -> DataFrame:
    """Weighted twin of :func:`_driver_pagerank`: directed
    (src, dst, w) edges, node multiplicities in ``weight_rows`` —
    the same BIGINT recurrence with ``deg(v) = Σ incoming w`` and the
    teleport denominator Σ multiplicities (see
    :func:`pagerank_weighted` for why that replays the member-level
    loop bit-for-bit)."""
    inc: dict = {}
    deg: dict = {}
    for s, d, w in edge_rows:
        inc.setdefault(s, []).append((d, int(w)))
        deg[d] = deg.get(d, 0) + int(w)
    for u in inc:
        if deg.get(u, 0) <= 0:
            raise ValueError(
                "pagerank_weighted requires every source node to have "
                f"positive incoming weight (deg(u) > 0); source {u!r} "
                "has none. Symmetric graphs (every edge mirrored, as "
                "the collapsed near-dup callers build) satisfy this."
            )
    mult = {node: int(k) for node, k in weight_rows}
    nn = sum(mult.get(v, 1) for v in deg)
    if nn == 0:
        return local_frame(spark, [], f"node {id_type}, rank_e12 long")
    half_up = lambda x: int(math.floor(x + 0.5))  # noqa: E731
    r = {v: half_up(float(SCALE) / nn) for v in deg}
    base = half_up(float(100 - damping_pct) / 100.0 * SCALE / nn)
    for _ in range(iters):
        acc = {v: 0 for v in deg}
        for u, outs in inc.items():
            c = r[u] // deg[u]
            for d, w in outs:
                acc[d] += w * c
        r = {v: base + (damping_pct * a) // 100 for v, a in acc.items()}
    return local_frame(spark, r.items(), f"node {id_type}, rank_e12 long")


def pagerank_weighted(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    w: str = "w",
    iters: int = 3,
    damping_pct: int = 85,
    small_graph_threshold: int = 200_000,
    node_weights: "DataFrame | None" = None,
) -> DataFrame:
    """PageRank over DIRECTED integer-weighted edges — the collapsed
    form of :func:`pagerank` for graphs whose nodes stand for classes
    of identical members (exact-duplicate documents).

    Semantics chosen so the collapsed run replays the member-level
    recurrence bit-for-bit: every member of a class provably holds
    the SAME rank at every iteration (identical init, identical
    neighborhoods), so one class-level value per class suffices.

    - ``deg(v) = Σ w over edges INTO v`` — in the member graph that
      sum is exactly a member's (undirected) degree when the caller
      encodes edge D→C with weight ``|D|`` (every member of D is
      adjacent to every member of C) and the intra-class self-loop
      C→C with weight ``|C| - 1``.
    - contribution of edge u→v: ``w * (r(u) div deg(u))`` — w
      identical member contributions.
    - teleport denominator ``nn`` = Σ ``node_weights`` multiplicity
      over nodes in the graph (the MEMBER count, not the class
      count); nodes absent from ``node_weights`` count 1.

    Precondition: every SOURCE node must also receive incoming weight
    (``deg(u) > 0``) — the contribution term ``r(u) div deg(u)`` is
    undefined otherwise. Symmetric graphs (every edge mirrored, which
    is what the collapsed near-dup callers build) satisfy this by
    construction; violations raise ``ValueError`` on BOTH the driver
    and distributed paths (same typed error either side of
    ``small_graph_threshold``).

    Same small-graph driver fast path / guarded probe as
    :func:`pagerank`. Output: one row per CLASS node (node,
    rank_e12) — each member of the class holds exactly this rank;
    fan-out is the caller's (bounded, join-through-membership) step.
    Memoized per input plan."""
    inputs = [edges] if node_weights is None else [edges, node_weights]
    return plan_memo(
        edges.sparkSession,
        inputs,
        (
            "pagerank_weighted", src, dst, w, iters, damping_pct,
            small_graph_threshold,
        ),
        lambda: _pagerank_weighted_build(
            edges, src, dst, w, iters, damping_pct,
            small_graph_threshold, node_weights,
        ),
    )


def _pagerank_weighted_build(
    edges: DataFrame,
    src: str,
    dst: str,
    w: str,
    iters: int,
    damping_pct: int,
    small_graph_threshold: int,
    node_weights: "DataFrame | None",
) -> DataFrame:
    spark = edges.sparkSession
    slim = edges.select(F.col(src), F.col(dst), F.col(w))
    if small_graph_threshold:
        probe = slim.limit(small_graph_threshold + 1).collect()
        if len(probe) <= small_graph_threshold:
            id_type = dict(edges.dtypes)[src]
            if node_weights is None:
                wr = []
            else:
                # Collect ONLY multiplicities of participating nodes
                # (destinations — the only keys the driver recurrence
                # reads): node_weights may be corpus-sized (one row per
                # distinct text in pagerank_near_dup_collapsed) while
                # the probed edge list is tiny, so a full collect here
                # would ship a corpus-sized table to the driver. The
                # semi-join keeps node_weights distributed and returns
                # <= #distinct-dst <= #probed-edges rows.
                nwc = node_weights.columns
                participating = slim.select(
                    F.col(dst).alias(nwc[0])
                ).distinct()
                wr = [
                    (r[0], r[1])
                    for r in node_weights.join(
                        F.broadcast(participating), nwc[0], "left_semi"
                    ).collect()
                ]
            return _driver_pagerank_weighted(
                spark, probe, wr, id_type, iters, damping_pct
            )
    e = slim.select(
        F.col(src).alias("s"), F.col(dst).alias("d"),
        F.col(w).cast("long").alias("wt"),
    ).cache()
    deg = (
        e.groupBy("d")
        .agg(F.sum("wt").alias("dg"))
        .select(F.col("d").alias("s"), "dg")
        .cache()
    )
    if node_weights is None:
        nn_df = deg.agg(F.count(F.lit(1)).alias("nn"))
    else:
        nwc = node_weights.columns
        nw = node_weights.select(
            F.col(nwc[0]).alias("s"), F.col(nwc[1]).cast("long").alias("__k")
        )
        nn_df = (
            deg.join(nw, "s", "left")
            .agg(F.sum(F.coalesce(F.col("__k"), F.lit(1))).alias("nn"))
        )
    n_row = F.broadcast(nn_df)
    base_pct = 100 - damping_pct
    ranks = deg.crossJoin(n_row).select(
        F.col("s").alias("node"),
        F.round(F.lit(float(SCALE)) / F.col("nn")).cast("long").alias("r"),
    )
    # Precondition check mirroring the driver path (r12 advice: fold
    # it into work the recurrence needs anyway instead of a dedicated
    # edges-plus-aggregate probe job): a source with no positive
    # in-weight has deg(u) <= 0 and its contribution r(u) div deg(u)
    # is undefined — the inner join below would silently DROP
    # no-in-edge sources and `div 0` would NULL out zero-weight ones,
    # both diverging from the driver path's typed error. deg is
    # unique per node, so the positive-deg inner join preserves edge
    # row count iff every source has deg > 0; both counts read the
    # caches the recurrence uses (edges_deg materializes here instead
    # of in iteration 1). The explicit offender lookup runs only on
    # the failure path.
    edges_deg = e.join(deg.filter(F.col("dg") > 0), "s").cache()
    if edges_deg.count() != e.count():
        bad_src = (
            e.join(deg.filter(F.col("dg") > 0), "s", "left_anti")
            .select("s")
            .first()
        )
        e.unpersist()
        deg.unpersist()
        edges_deg.unpersist()
        raise ValueError(
            "pagerank_weighted requires every source node to have "
            f"positive incoming weight (deg(u) > 0); source "
            f"{bad_src[0] if bad_src else '?'!r} has none. Symmetric "
            "graphs (every edge mirrored, as the collapsed near-dup "
            "callers build) satisfy this."
        )
    for _ in range(iters):
        contrib = edges_deg.join(
            ranks, edges_deg.s == ranks.node
        ).select(
            F.col("d"), (F.col("wt") * F.expr("r div dg")).alias("__c")
        )
        ranks = (
            contrib.groupBy("d")
            .agg(F.sum("__c").alias("__sum"))
            .crossJoin(n_row)
            .select(
                F.col("d").alias("node"),
                (
                    F.round(
                        F.lit(float(base_pct) / 100.0 * SCALE) / F.col("nn")
                    ).cast("long")
                    + F.expr(f"({damping_pct} * __sum) div 100")
                ).alias("r"),
            )
        )
    out = ranks.select(F.col("node"), F.col("r").alias("rank_e12"))
    out = out.localCheckpoint(eager=True)
    e.unpersist()
    deg.unpersist()
    edges_deg.unpersist()
    return out


def triangle_stats(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Global triangle census of an undirected pair graph — the
    cluster-cohesion diagnostic for a near-dup graph (triangles =
    transitively-confirmed duplicate triples; a high wedge-to-triangle
    ratio flags LSH bucket collisions that did not verify).

    Distributed shape (the standard degree-oriented compact-forward
    algorithm): orient every edge from its lower-(degree, id) endpoint
    to the higher one, so each wedge is generated at exactly one
    vertex and a hub of degree d contributes only the wedges among its
    HIGHER-ranked neighbors — the count is bounded by sum(d_out^2)
    with d_out <= sqrt(2m) on any graph, instead of d^2 at hubs. Two
    hash joins (wedge build + closure probe), all on edge keys, no
    driver collect.

    Output: one row ``(n_vertices, n_edges, n_wedges, n_triangles,
    closure_ppm)``. Each triangle closes exactly ONE oriented wedge
    (the one generated at its lowest-ranked vertex), so
    ``closure_ppm = 1e6 * n_triangles / n_wedges`` is the oriented
    wedge-closure fraction in [0, 1e6] (integer micro-units, exact
    cross-engine; 0 when wedge-free).
    """
    # canonical undirected edges, self-loops dropped; cached (r13,
    # guide §1.3): the edge list anchors deg, the orientation join,
    # the closure probe, and the edge count — uncached, the
    # corpus-scan + distinct re-executed per consumer subtree
    e = (
        pairs.select(
            F.least(F.col(id_a), F.col(id_b)).alias("u"),
            F.greatest(F.col(id_a), F.col(id_b)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .cache()
    )
    deg = (
        e.select(F.col("u").alias("x"))
        .union(e.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("d"))
        .cache()  # node-sized; feeds du, dv, and the vertex count
    )
    # orient by (degree, id): src = lower-ranked endpoint
    du = deg.select(F.col("x").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("x").alias("v"), F.col("d").alias("dv"))
    ranked = e.join(du, "u").join(dv, "v")
    lower_u = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    arcs = ranked.select(
        F.when(lower_u, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(lower_u, F.col("v")).otherwise(F.col("u")).alias("dst"),
    )
    # wedges at the (low-rank) apex: unordered neighbor pairs
    a1 = arcs.select(F.col("src"), F.col("dst").alias("n1"))
    a2 = arcs.select(F.col("src"), F.col("dst").alias("n2"))
    wedges = a1.join(a2, "src").filter(F.col("n1") < F.col("n2"))
    # wedge + triangle counts in ONE pass (r13, §2.4): a LEFT join
    # against the canonical edge set counts every wedge once and the
    # closed ones via the matched marker — the wedge stream (the
    # biggest intermediate, sum(d_out^2) rows) is built once instead
    # of twice and never cached
    wt = wedges.join(
        e.select(
            F.col("u").alias("n1"),
            F.col("v").alias("n2"),
            F.lit(1).alias("__m"),
        ),
        ["n1", "n2"],
        "left",
    ).agg(
        F.count(F.lit(1)).alias("n_wedges"),
        F.count("__m").alias("n_triangles"),
    )
    counts = (
        e.agg(F.count(F.lit(1)).alias("n_edges"))
        .crossJoin(F.broadcast(deg.agg(F.count(F.lit(1)).alias("n_vertices"))))
        .crossJoin(F.broadcast(wt))
    )
    return counts.select(
        "n_vertices",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.when(
            F.col("n_wedges") > 0,
            # BIGINT floor division (`div`) — exact cross-engine,
            # matching DuckDB's `//` on the oracle side
            F.expr("(1000000 * n_triangles) div n_wedges"),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("closure_ppm"),
    )


def kcore_nodes(
    pairs: DataFrame,
    k: int,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_rounds: int = 12,
) -> DataFrame:
    """Nodes of the k-core: the maximal subgraph where every vertex
    keeps degree >= k — the density screen that separates a tight
    duplicate clique from a loose chain of borderline matches in a
    near-dup graph.

    Iterative peel: drop vertices with current degree < k, recompute
    degrees on surviving edges, repeat to fixpoint. Each round is one
    degree aggregate + one semi-join filter on the (shrinking) edge
    set; a localCheckpoint truncates lineage per round, and the
    convergence probe (edge count) rides the same action. The peel is
    MONOTONE and idempotent at the fixpoint, so running extra rounds
    changes nothing — which is what lets the DuckDB twin unroll a
    fixed ``max_rounds`` and still agree exactly. Raises if the graph
    hasn't converged within ``max_rounds`` (pathological chains; the
    caller raises the budget).

    Output: ``(node, degree)`` rows of the k-core (post-fixpoint
    degrees), empty if the core is empty.

    Memoized per input plan (plans/memo.py): the core is a pure
    function of the pair graph + ``k``, so a warm rebuild would
    replay every peel round for an identical result.
    """
    return plan_memo(
        pairs.sparkSession,
        pairs,
        ("kcore_nodes", k, id_a, id_b, max_rounds),
        lambda: _kcore_build(pairs, k, id_a, id_b, max_rounds),
    )


def _kcore_build(
    pairs: DataFrame,
    k: int,
    id_a: str,
    id_b: str,
    max_rounds: int,
) -> DataFrame:
    from feast_hive_spark.operators.dedup import _free_local_checkpoint

    e = (
        pairs.select(
            F.least(F.col(id_a), F.col(id_b)).alias("u"),
            F.greatest(F.col(id_a), F.col(id_b)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev = e.count()
    for _ in range(max_rounds):
        deg = (
            e.select(F.col("u").alias("x"))
            .union(e.select(F.col("v").alias("x")))
            .groupBy("x")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        keep = deg.filter(F.col("d") >= k).select("x")
        nxt = (
            e.join(keep.withColumnRenamed("x", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("x", "v"), "v", "left_semi")
            .select("u", "v")
            .localCheckpoint(eager=True)
        )
        _free_local_checkpoint(e)
        e = nxt
        n = e.count()
        if n == prev:
            break
        prev = n
    else:
        raise RuntimeError(
            f"k-core peel did not converge in {max_rounds} rounds"
        )
    deg = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    out = deg.localCheckpoint(eager=True)
    _free_local_checkpoint(e)
    return out


def _driver_label_propagation(
    pairs: DataFrame, probe, id_a: str, id_b: str, iters: int
) -> DataFrame:
    """Synchronous LPA on the driver for a probe-bounded edge list —
    exactly the distributed rounds' semantics: every node starts as
    its own label; each round every node adopts the most frequent
    label among its neighbors' PREVIOUS-round labels, ties to the
    smallest label. Output matches the distributed path row-for-row
    (same mode/tie-break; dict iteration order never affects the
    result because argmax compares (count, label))."""
    from collections import Counter, defaultdict

    nbrs: "defaultdict[object, list]" = defaultdict(list)
    for r in probe:
        a, b = r[0], r[1]
        if a == b:
            continue
        nbrs[a].append(b)
        nbrs[b].append(a)
    # distinct() in the distributed sym: drop duplicate edges
    nbrs = {n: sorted(set(v)) for n, v in nbrs.items()}
    labels = {n: n for n in nbrs}
    for _ in range(iters):
        nxt = {}
        for node, ns in nbrs.items():
            c = Counter(labels[m] for m in ns)
            # mode with (count DESC, label ASC) tie-break
            nxt[node] = min(c.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        labels = nxt
    id_type = dict(pairs.dtypes)[id_a]
    return local_frame(
        pairs.sparkSession,
        sorted(labels.items()),
        f"node {id_type}, community {id_type}",
    )


def label_propagation(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    iters: int = 3,
    checkpoint_every: int | None = None,
    small_graph_threshold: int = 200_000,
) -> DataFrame:
    """Synchronous label-propagation community detection over an
    undirected pair graph: every node starts as its own label; each
    round it adopts the MOST FREQUENT label among its neighbors, ties
    to the smallest label — the deterministic variant of
    Raghavan et al.'s LPA (asynchronous/random-order LPA is not
    reproducible across cluster sizes, so the synchronous form is the
    one a pipeline can certify).

    Unlike min-label propagation (which converges to connected
    components — dedup.connected_components_star), mode-based updates
    find DENSE communities inside a component, the structure that
    matters for near-dup cluster quality and covisitation
    neighborhoods.

    Fully lazy at the default ``iters=3`` (the production "few hops"
    shape): rounds of join + count + argmax-window chained into ONE
    plan — no driver collect, no checkpoint; every shuffle is sized
    to the GRAPH (edges or nodes), never the corpus that produced it.

    ``checkpoint_every`` (r6 verdict #7): each round's plan embeds the
    previous round's, so at tens of rounds the analyzed plan grows
    multiplicatively — the exact failure the CC/PageRank loops solve
    with per-round ``localCheckpoint`` (dedup.py `_star_rounds`).
    When set, every r-th round eagerly localCheckpoints the label
    table (node-sized, tiny next to the edge table) and frees the
    previous checkpoint's blocks, bounding plan depth at r rounds.
    ``None`` keeps the single-plan semantics the SQL twin certifies;
    output is identical either way (the checkpoint is a pure
    materialization barrier). On a cluster, trade localCheckpoint for
    reliable ``checkpoint()`` if executor loss must be recoverable.
    Output: ``(node, community)``.

    Small-graph fast path (r13 optimization round — the CC/star
    pattern, ``connected_components_star``): each synchronous round
    is 2 shuffles + a broadcast join of tiny tables, so on a DEDUP
    pair graph (hundreds of edges from a 5k-doc corpus; measured
    ~0.5 s of pure scheduler/stage latency PER ROUND at sf0.1) the
    distributed loop is all fixed overhead. A guarded LIMIT-probe
    (same ~3 MB driver ceiling as the CC probe) collects graphs of at
    most ``small_graph_threshold`` edges and runs the identical
    rounds on the driver; bigger graphs take the distributed loop
    unchanged. Output is row-identical (same mode argmax, same
    (count DESC, label ASC) tie-break — property-tested). The result
    is plan-memoized per input plan either way, so a warm rebuild
    replays neither the probe nor the rounds.
    """
    if checkpoint_every is not None and checkpoint_every < 1:
        # 0 would divide-by-zero in the round modulus; negatives would
        # silently never checkpoint while still paying the eager sym
        # localCheckpoint — both are caller bugs, reject loudly
        raise ValueError(
            f"checkpoint_every must be >= 1 or None, got {checkpoint_every}"
        )
    from feast_hive_spark.plans.memo import plan_memo

    return plan_memo(
        pairs.sparkSession,
        pairs,
        (
            "label_propagation", id_a, id_b, iters,
            checkpoint_every, small_graph_threshold,
        ),
        lambda: _label_propagation_build(
            pairs, id_a, id_b, iters, checkpoint_every,
            small_graph_threshold,
        ),
    )


def _label_propagation_build(
    pairs: DataFrame,
    id_a: str,
    id_b: str,
    iters: int,
    checkpoint_every: int | None,
    small_graph_threshold: int,
) -> DataFrame:
    from pyspark.sql import Window

    from feast_hive_spark.operators.dedup import _free_local_checkpoint

    if small_graph_threshold:
        probe = (
            pairs.select(F.col(id_a), F.col(id_b))
            .limit(small_graph_threshold + 1)
            .collect()
        )
        if len(probe) <= small_graph_threshold:
            return _driver_label_propagation(
                pairs, probe, id_a, id_b, iters
            )

    # ONE pairs execution (r13, guide §2.3/§1.3): the 2-arm unionAll
    # ran the upstream pair-mining chain once per arm, and the chained
    # round plan re-joined sym per round — with an expensive miner
    # upstream (shingle/minhash joins) that multiplied the corpus
    # work. Both arms now come off one scan via explode, and sym is
    # cached (edge-sized) so the node spine + every round share one
    # materialization. The probe-miss path pays the miner twice total
    # (probe + sym) instead of 3+ times.
    sym = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
                    ),
                    F.struct(
                        F.col(id_b).alias("src"), F.col(id_a).alias("dst")
                    ),
                )
            ).alias("__e")
        )
        .select("__e.src", "__e.dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    if checkpoint_every is not None:
        # the edge table is re-joined every round — materialize once
        sym = sym.localCheckpoint(eager=True)
    else:
        sym = sym.cache()
    labels = sym.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    w = Window.partitionBy("node").orderBy(
        F.desc("__c"), F.asc("lbl")
    )
    prev_ckpt: DataFrame | None = None
    for i in range(iters):
        labels = (
            sym.join(labels.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"), "lbl")
            .agg(F.count(F.lit(1)).alias("__c"))
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("node", "lbl")
        )
        if (
            checkpoint_every is not None
            and (i + 1) % checkpoint_every == 0
            and i + 1 < iters
        ):
            labels = labels.localCheckpoint(eager=True)
            if prev_ckpt is not None:
                _free_local_checkpoint(prev_ckpt)
            prev_ckpt = labels
    out = labels.select("node", F.col("lbl").alias("community"))
    if checkpoint_every is not None:
        # pin the result before releasing the intermediate blocks it
        # still references
        out = out.localCheckpoint(eager=True)
        if prev_ckpt is not None:
            _free_local_checkpoint(prev_ckpt)
        _free_local_checkpoint(sym)
    return out


def local_clustering(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Per-node local clustering coefficient — triangles(v) /
    C(deg(v), 2), the node-level cohesion score whose average is the
    classic Watts-Strogatz clustering coefficient. On a near-dup
    graph it separates genuine duplicate cliques (coeff ~= 1) from
    LSH-collision stars (coeff ~= 0) node by node, where the global
    census (:func:`triangle_stats`) only reports the corpus total.

    Same degree-oriented compact-forward shape as
    :func:`triangle_stats` (wedges generated only at each triangle's
    lowest-(degree, id) vertex, bounding hub work at sqrt(2m)); each
    closing triangle then credits all THREE corners via one explode
    + count — still nothing but equi joins and aggregates sized to
    the graph. Output: ``(node, degree, triangles, coeff_micro)``
    for nodes with degree >= 2, coeff half-up at 1e-6 in exact
    integer arithmetic.
    """
    # edge list + degree table cached (r13, guide §1.3): e anchors
    # deg, the orientation join, and the closure probe; deg anchors
    # du/dv and the output join — uncached, the corpus-scan +
    # distinct re-executed per consumer subtree
    e = (
        pairs.select(
            F.least(F.col(id_a), F.col(id_b)).alias("u"),
            F.greatest(F.col(id_a), F.col(id_b)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .cache()
    )
    deg = (
        e.select(F.col("u").alias("x"))
        .union(e.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("d"))
        .cache()
    )
    du = deg.select(F.col("x").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("x").alias("v"), F.col("d").alias("dv"))
    ranked = e.join(du, "u").join(dv, "v")
    lower_u = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    arcs = ranked.select(
        F.when(lower_u, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(lower_u, F.col("v")).otherwise(F.col("u")).alias("dst"),
    )
    a1 = arcs.select(F.col("src"), F.col("dst").alias("n1"))
    a2 = arcs.select(F.col("src"), F.col("dst").alias("n2"))
    wedges = a1.join(a2, "src").filter(F.col("n1") < F.col("n2"))
    closing = wedges.join(
        e.select(F.col("u").alias("n1"), F.col("v").alias("n2")),
        ["n1", "n2"],
        "inner",
    )
    tri = (
        closing.select(
            F.explode(F.array("src", "n1", "n2")).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    out = (
        deg.select(F.col("x").alias("node"), F.col("d").alias("degree"))
        .filter(F.col("degree") >= 2)
        .join(tri, "node", "left")
        .na.fill({"triangles": 0})
    )
    return out.select(
        "node",
        F.col("degree").cast("long").alias("degree"),
        F.col("triangles").cast("long").alias("triangles"),
        # half-up micro of 2*tri / (d*(d-1)) in exact BIGINTs
        F.expr(
            "(2 * 2 * triangles * 1000000 + degree * (degree - 1)) "
            "div (2 * degree * (degree - 1))"
        ).alias("coeff_micro"),
    )


def degree_assortativity(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002): the Pearson
    correlation of endpoint degrees over the directed edge list (each
    undirected edge counted both ways). Positive = hubs attach to
    hubs (social-graph shape), negative = hubs attach to leaves
    (star/broadcast shape) — the one-number summary that tells a
    pipeline whether a near-dup or covisitation graph is
    hub-dominated before running anything iterative on it.

    Exact integer moment sums (degrees are integers, and each
    undirected edge contributes (dx, dy) and (dy, dx), so
    sx = sy = sum(dx + dy), sxy = 2 * sum(dx * dy),
    sxx = syy = sum(dx^2 + dy^2)): one dedup of the edge list, one
    node-degree aggregate, one edge-sized join, one 1-row reduce —
    scan-shaped at any graph size, and the double formula runs once
    on identical integers in every engine.

    Output: one row ``(n_edges, assortativity)``; assortativity is
    NULL for degree-regular graphs (zero variance)."""
    # cached (r13, guide §1.3): e feeds the degree union (2 subtrees)
    # and the moment join; deg feeds du/dv — uncached, the
    # corpus-scan + distinct executed ~4x per run
    e = (
        pairs.select(
            F.least(id_a, id_b).alias("u"), F.greatest(id_a, id_b).alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .cache()
    )
    deg = (
        e.select(F.col("u").alias("x"))
        .unionAll(e.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("d"))
        .cache()
    )
    du = deg.select(F.col("x").alias("u"), F.col("d").alias("dx"))
    dv = deg.select(F.col("x").alias("v"), F.col("d").alias("dy"))
    m = e.join(du, "u").join(dv, "v")
    s = m.agg(
        F.count(F.lit(1)).alias("e_cnt"),
        F.sum(F.col("dx") + F.col("dy")).alias("sx"),
        F.sum(2 * F.col("dx") * F.col("dy")).alias("sxy"),
        F.sum(F.col("dx") * F.col("dx") + F.col("dy") * F.col("dy")).alias(
            "sxx"
        ),
    )
    n = (F.col("e_cnt") * 2).cast("double")
    sx = F.col("sx").cast("double")
    num = n * F.col("sxy") - sx * sx
    den = n * F.col("sxx") - sx * sx
    return s.select(
        F.col("e_cnt").cast("long").alias("n_edges"),
        F.round(
            F.when(F.col("sxx") * (F.col("e_cnt") * 2) != F.col("sx") * F.col("sx"),
                   num / den),
            6,
        ).alias("assortativity"),
    )


def hits_scores(
    edges: DataFrame,
    src: str = "u",
    dst: str = "i",
    iters: int = 2,
) -> DataFrame:
    """Fixed-iteration HITS (Kleinberg, JACM 1999) over a directed
    edge list: authorities accumulate the hub mass of their pointers
    (``a_{t}(i) = Σ_{u→i} h_{t-1}(u)``), hubs accumulate the
    authority mass they point at (``h_t(u) = Σ_{u→i} a_t(i)``),
    starting from ``h_0 ≡ 1``. The textbook per-step normalization is
    a POSITIVE SCALAR, so dropping it leaves every iterate's RANKING
    identical — scores here are the exact unnormalized integers,
    bit-reproducible in any engine (the same trick as the pipeline's
    integer PageRank, minus even the division). Overflow bound:
    scores grow like (max degree)^(2*iters); at the default
    ``iters=2`` that is < 2^63 for any graph under ~30k max degree
    squared — raise ``iters`` only with a width check.

    Cost: per half-step, one edge-to-score equi join + one grouped
    sum — shuffles sized to the GRAPH (edge list + node tables),
    never the corpus that produced it; the deduped edge list is
    cached once and reused by all 2*iters half-steps. No collect, no
    driver loop state beyond the loop counter.

    Output: ``(side 'authority'|'hub', node, score)`` — one row per
    node per side, ranking-ready. Memoized per input plan
    (plans/memo.py): scores are a pure function of the edge list.

    No counterpart in the reference (beyond-reference extension; the
    reference's only graph-adjacent surface is the PIT join's entity
    graph, feast_hive/hive.py:527-721)."""
    return plan_memo(
        edges.sparkSession,
        edges,
        ("hits", src, dst, iters),
        lambda: _hits_build(edges, src, dst, iters),
    )


def _hits_build(
    edges: DataFrame, src: str, dst: str, iters: int
) -> DataFrame:
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("i"))
        .filter(F.col(src).isNotNull() & F.col(dst).isNotNull())
        .distinct()
        .cache()
    )
    # h_0 == 1 folds into the first authority step: a_1(i) = indeg(i)
    a = e.groupBy("i").agg(F.count(F.lit(1)).cast("long").alias("score"))
    h = None
    for t in range(iters):
        if t > 0:
            a = (
                e.join(h.withColumnRenamed("score", "__h"), "u")
                .groupBy("i")
                .agg(F.sum("__h").cast("long").alias("score"))
            )
        h = (
            e.join(a.withColumnRenamed("score", "__a"), "i")
            .groupBy("u")
            .agg(F.sum("__a").cast("long").alias("score"))
        )
    out = (
        a.select(
            F.lit("authority").alias("side"),
            F.col("i").cast("long").alias("node"),
            "score",
        )
        .unionByName(
            h.select(
                F.lit("hub").alias("side"),
                F.col("u").cast("long").alias("node"),
                "score",
            )
        )
        .localCheckpoint(eager=True)
    )
    e.unpersist()
    return out
