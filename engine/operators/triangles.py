"""Sorted-adjacency triangle counting with degree-based edge orientation.

No reference implementation (SURVEY §7 Phase 3). Standard published scheme:
collapse to the undirected simple graph, orient every edge from the
lower-(degree, id) endpoint to the higher one — which bounds every oriented
adjacency list by O(sqrt(m)) regardless of hub skew (the scale-critical
property; orienting by id alone would leave hub lists huge) — then for each
oriented edge (a,b) count |N+(a) ∩ N+(b)| over sorted adjacency arrays.
Each triangle is counted exactly once. Oracle: tests/oracle.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from engine.operators.pagerank import _estimate_rows

# Broadcast the per-vertex degree table into the orientation joins when the
# edge table is small enough that the vertex set surely fits (≤ 2 endpoints
# per edge × ~16 B/row → ≤ ~64 MB). Above it (the 10^12-edge case) the two
# degree attaches run as plain shuffle joins.
BROADCAST_DEGREE_EDGE_LIMIT = 2_000_000


def _oriented(edges: DataFrame, broadcast_degrees: bool | None = None) -> DataFrame:
    """Undirected simple graph oriented by (degree, id): (a -> b) with
    rank(a) < rank(b). Returns columns (a, b).

    broadcast_degrees: None (default) → auto from Catalyst's edge-row
    estimate (no job): broadcast the O(n) degree table into both attach
    joins when the graph is small, shuffle-join otherwise; unknown stats
    fall back to the scale-safe shuffle path."""
    und = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v"))
        .distinct()
    )
    sym = und.select(F.col("u").alias("x"), F.col("v").alias("y")).union(
        und.select(F.col("v").alias("x"), F.col("u").alias("y"))
    )
    deg = sym.groupBy("x").agg(F.count(F.lit(1)).alias("deg"))
    if broadcast_degrees is None:
        est = _estimate_rows(edges, bytes_per_row=16)
        broadcast_degrees = 0 < est <= BROADCAST_DEGREE_EDGE_LIMIT
    if broadcast_degrees:
        deg = F.broadcast(deg)
    du = deg.select(F.col("x").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("x").alias("v"), F.col("deg").alias("dv"))
    j = und.join(du, "u").join(dv, "v")
    # a = endpoint with smaller (deg, id)
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    return j.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("b"),
    )


def _adjacency(edges: DataFrame) -> DataFrame:
    """(a, nbrs): sorted oriented adjacency list per vertex.

    Persisted (memory-and-disk): both sides of the intersection join derive
    from this one table, and without the pin Spark re-executes the entire
    upstream (distinct + degree attach + orientation + collect_list) once per
    branch — a measured ~2× on the whole kernel. O(n) rows / O(m) array
    entries, disk-backed. The CacheManager holds the blocks until an
    explicit unpersist — long-lived sessions wrap the terminal action in
    `engine.operators._pins.pin_scope()` (or call `release_all_pins()`) to
    free them."""
    from engine.operators._pins import pin

    o = _oriented(edges)
    adj = o.groupBy("a").agg(F.sort_array(F.collect_list("b")).alias("nbrs"))
    return pin(adj)


def _per_edge_intersections(adj: DataFrame, broadcast_adj: bool) -> DataFrame:
    """(a, b, na, nb): every oriented edge with both endpoints' adjacency
    lists attached. The (a, na, b) side is derived by EXPLODING the adjacency
    table itself — the oriented edge list is exactly groupBy(a)+explode, so
    re-joining it back on `a` (the textbook three-table formulation) would
    pay a whole extra shuffle join for rows we already have. Only the `b`
    attach remains a join.

    The join sides MUST be hinted explicitly: Catalyst's size estimate of
    `ea` descends from the compact adjacency table and explode does not
    inflate it, so left to itself the planner picks BroadcastHashJoin
    BuildLeft — hashing the exploded O(m)-row, array-laden side on the
    driver (measured 3.7× slower at 600k edges, OOM at scale). When the
    total adjacency mass is small we broadcast `adj` (the truly small,
    O(n + m·8B) side); otherwise we force a shuffle join so the
    misestimated explode side can never be build-side."""
    ea = adj.select("a", F.col("nbrs").alias("na"), F.explode("nbrs").alias("b"))
    adj_b = adj.select(F.col("a").alias("b"), F.col("nbrs").alias("nb"))
    if broadcast_adj:
        adj_b = F.broadcast(adj_b)
    else:
        ea = ea.hint("shuffle_merge")
        adj_b = adj_b.hint("shuffle_merge")
    return ea.join(adj_b, "b")


def _adj_broadcastable(edges: DataFrame) -> bool:
    """True when the oriented adjacency table (total array mass ≈ one long
    per undirected edge) surely fits a broadcast. Decided from Catalyst's
    edge-row estimate — no job; unknown stats fall back to the scale-safe
    shuffle path."""
    est = _estimate_rows(edges, bytes_per_row=16)
    return 0 < est <= BROADCAST_DEGREE_EDGE_LIMIT


def triangle_rows(edges: DataFrame) -> DataFrame:
    """One row (a, b, c) per triangle (each exactly once): for every oriented
    edge (a,b), explode the sorted-adjacency intersection N+(a) ∩ N+(b)."""
    return _per_edge_intersections(_adjacency(edges), _adj_broadcastable(edges)).select(
        "a", "b", F.explode(F.array_intersect("na", "nb")).alias("c")
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """Single-row DataFrame (triangles BIGINT): total triangle count."""
    per_edge = _per_edge_intersections(
        _adjacency(edges), _adj_broadcastable(edges)
    ).select(
        F.size(F.array_intersect("na", "nb")).alias("t")
    )
    return per_edge.agg(F.coalesce(F.sum("t"), F.lit(0)).cast("long").alias("triangles"))


def clustering_coefficient(edges: DataFrame) -> DataFrame:
    """(id, degree, triangles, lcc): local clustering coefficient per vertex
    of the undirected simple graph, lcc(v) = 2*T(v) / (d(v)*(d(v)-1)) and 0
    where d(v) < 2. Degree is the simple undirected degree (distinct
    neighbors). Rounded to 6 dp so the value is portable across engines
    (single double division — no aggregation-order sensitivity).

    Scale shape: one extra O(m) degree aggregation on top of the oriented
    triangle kernel; the dominant cost stays the adjacency intersection,
    whose lists are O(sqrt(m))-bounded by the (degree, id) orientation."""
    und = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v"))
        .distinct()
    )
    sym = und.select(F.col("u").alias("id")).union(und.select(F.col("v").alias("id")))
    deg = sym.groupBy("id").agg(F.count(F.lit(1)).alias("degree"))
    tri = triangles_per_vertex(edges)
    joined = deg.join(tri, "id", "left").select(
        "id",
        "degree",
        F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
    )
    lcc = F.when(
        F.col("degree") >= 2,
        (F.lit(2.0) * F.col("triangles"))
        / (F.col("degree") * (F.col("degree") - F.lit(1))),
    ).otherwise(F.lit(0.0))
    return joined.withColumn("lcc", F.round(lcc, 6))


def triangles_per_vertex(edges: DataFrame, nodes: DataFrame | None = None) -> DataFrame:
    """(id, triangles): number of triangles each vertex participates in."""
    rows = triangle_rows(edges)
    members = (
        rows.select(F.col("a").alias("id"))
        .union(rows.select(F.col("b").alias("id")))
        .union(rows.select(F.col("c").alias("id")))
    )
    counts = members.groupBy("id").agg(F.count(F.lit(1)).alias("triangles"))
    if nodes is not None:
        counts = nodes.select("id").join(counts, "id", "left").select(
            "id", F.coalesce("triangles", F.lit(0)).alias("triangles")
        )
    return counts


def square_count(
    edges: DataFrame,
    max_fanout: int | None = None,
    metrics: dict | None = None,
) -> DataFrame:
    """Exact 4-cycle (square) count over the undirected simple graph —
    one row (wedge_pairs BIGINT, squares BIGINT).

    Squares are the web's bipartite-core / link-farm signal (Kumar,
    Raghavan, Rajagopalan & Tomkins, WWW 1999 "Trawling the Web for
    emerging cyber-communities": dense bipartite subgraphs are exactly
    square-rich regions). Identity: with w_ab = |N(a) ∩ N(b)| over
    unordered non-adjacent-or-adjacent pairs,

        #C4 = (1/2) · Σ_{a<b} C(w_ab, 2)

    (each square a-x-b-y is counted once by its opposite-corner pair
    {a,b} and once by {x,y}; both sums are exact longs, and the total is
    provably even, so the halving is exact).

    Spark shape: the cocitation wedge surface — every middle vertex m
    emits C(deg(m), 2) neighbor pairs, so hubs explode quadratically;
    `max_fanout` applies the repo-wide disclosed pivot cap (middles above
    the cap emit no wedges; `metrics` receives the capped count and
    dropped wedge mass — capping UNDERCOUNTS squares through those hubs,
    and the halving becomes a floor). wedge_pairs = number of unordered
    endpoint pairs with w_ab >= 2 (the bipartite-core candidate pairs).
    """
    from engine.operators._pins import pin

    und = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .distinct()
    )
    nb = pin(
        und.select(F.col("a").alias("m"), F.col("b").alias("x")).union(
            und.select(F.col("b").alias("m"), F.col("a").alias("x"))
        )
    )
    piv = nb.groupBy("m").agg(F.count(F.lit(1)).alias("fan"))
    if max_fanout is not None:
        if metrics is not None:
            capped = (
                piv.filter(F.col("fan") > max_fanout)
                .agg(
                    F.count(F.lit(1)).alias("capped"),
                    # exact: fan*(fan-1) is even, decimal-sum then integer
                    # halving — a double sum loses precision past 2^53 (a
                    # 10^8-degree hub alone contributes ~5e15 wedges)
                    F.floor(
                        F.coalesce(
                            F.sum(
                                (F.col("fan") * (F.col("fan") - 1)).cast(
                                    "decimal(38,0)"
                                )
                            ),
                            F.lit(0).cast("decimal(38,0)"),
                        )
                        / F.lit(2)
                    )
                    .cast("long")
                    .alias("dropped"),
                )
                .collect()[0]
            )
            metrics["square_pivots_capped"] = int(capped["capped"])
            metrics["square_wedges_dropped"] = int(capped["dropped"])
        nb = nb.join(
            piv.filter(F.col("fan") <= max_fanout).select("m"), "m"
        )
    l = nb.select("m", F.col("x").alias("a"))
    r = nb.select("m", F.col("x").alias("b"))
    wab = (
        l.join(r, "m")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    return wab.agg(
        F.coalesce(
            F.sum(F.when(F.col("w") >= 2, 1).otherwise(0)), F.lit(0)
        )
        .cast("long")
        .alias("wedge_pairs"),
        # exact integer halving: Σ w(w−1) is divisible by 4 uncapped (it is
        # 2·ΣC(w,2) and ΣC(w,2) = 2·#C4); each term is cast to DECIMAL
        # before the sum, so neither the sum nor the division can overflow
        # BIGINT or round the way a double sum would past 2^53
        # explicit floor so a capped run (where Σw(w−1) may not divide by 4)
        # agrees bit-for-bit with the DuckDB oracle's '//' integer division;
        # uncapped the division is exact and the floor is a no-op
        F.floor(
            F.coalesce(
                F.sum((F.col("w") * (F.col("w") - 1)).cast("decimal(38,0)")),
                F.lit(0).cast("decimal(38,0)"),
            )
            / F.lit(4)
        )
        .cast("long")
        .alias("squares"),
    )


def cc_curve(edges: DataFrame) -> DataFrame:
    """(k BIGINT, n_nodes BIGINT, c DOUBLE): mean local clustering
    coefficient per degree class — the C(k) curve (Ravasz & Barabási,
    PRE 2003): C(k) ∝ 1/k is the signature of hierarchical modularity,
    the standard web-graph reading next to k_nn(k) (graph.avg_neighbor_degree)
    and the degree distribution. One O(distinct degrees) aggregate over
    clustering_coefficient's output; per-vertex 6-dp lcc values are
    decimal-summed within the class (engine-portable), one IEEE division,
    round 6."""
    lcc = clustering_coefficient(edges)
    return lcc.groupBy(F.col("degree").alias("k")).agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.round(
            F.sum(F.col("lcc").cast("decimal(28,9)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("c"),
    )
