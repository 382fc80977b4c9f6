"""Neighborhood function and effective diameter of the link graph.

N(h) = number of ordered pairs (u, v) with a directed path u→v of length
≤ h. The web-measurement classic (Broder et al. WWW 2000 report the web's
effective diameter from exactly this curve). Two paths:

- `neighborhood_exact(edges, max_h)`: iterated pair-set expansion —
  pairs_{h+1} = pairs_h ∪ (pairs_h ⋈ edges). Exact, but the pair set is
  O(n²) in the worst case, so this is the VALIDATION path (small scale,
  and the portable-SQL oracle in __spark_entry__).

- `neighborhood_hyperball(edges, max_h, b)`: HyperBall (Boldi & Vigna,
  "In-Core Computation of Geometric Centralities with HyperBall", 2013) —
  per-vertex HyperLogLog sketches of the ball B(v, h), advanced by
  merging each vertex's sketch with its out-neighbors' previous sketches;
  |B(v, h)| is the HLL estimate, N(h) = Σ_v |B(v, h)|. This is the
  100 TB path: state is m = 2^b registers per vertex (register-per-row
  layout, the BSP-friendly encoding), each round is one join + max
  aggregate — the same gather shape as a PageRank iteration, O(m·|E|)
  shuffled rows per round, no pair materialization anywhere. Standard HLL
  estimator with the linear-counting small-range correction. The register
  state is fully deterministic (xxhash64) — reruns and repartitionings
  produce identical sketches, with estimates agreeing up to float-sum
  reordering — but engine-specific (pytest-gated against the exact path
  rather than a portable SQL oracle).

Both return one row per h ∈ [0, max_h]: (h BIGINT, pairs).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from engine.operators._checkpoint import checkpoint


def _nodes(edges: DataFrame) -> DataFrame:
    return (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
    )


def neighborhood_exact(
    edges: DataFrame, max_h: int, num_partitions: int | None = None
) -> DataFrame:
    """Exact N(h) for h = 0..max_h: (h BIGINT, pairs BIGINT).

    Pair-set iteration; each round is one join + distinct over the pair
    set. N(0) = |V| (every vertex reaches itself)."""
    spark = edges.sparkSession
    P = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    e = checkpoint(
        edges.filter(F.col("src") != F.col("dst")).select("src", "dst").distinct(),
        P,
        "src",
    )
    pairs = checkpoint(
        _nodes(edges).select(F.col("id").alias("a"), F.col("id").alias("b")), P, "a"
    )
    counts = [(0, pairs.count())]
    for h in range(1, max_h + 1):
        grown = pairs.union(
            pairs.join(e.select(F.col("src").alias("b"), "dst"), "b").select(
                "a", F.col("dst").alias("b")
            )
        ).distinct()
        pairs = checkpoint(grown, P, "a")
        counts.append((h, pairs.count()))
    return spark.createDataFrame(counts, "h bigint, pairs bigint")


# --- HyperBall ------------------------------------------------------------

_HLL_ALPHA = {16: 0.673, 32: 0.697, 64: 0.709}


def _alpha(m: int) -> float:
    return _HLL_ALPHA.get(m, 0.7213 / (1.0 + 1.079 / m))


def neighborhood_hyperball(
    edges: DataFrame,
    max_h: int,
    b: int = 6,
    num_partitions: int | None = None,
) -> DataFrame:
    """HyperBall N(h) estimates for h = 0..max_h: (h BIGINT, pairs DOUBLE).

    b: register-index bits (m = 2^b registers per vertex; relative error
    ≈ 1.04/sqrt(m), so b=6 → ~13%). State layout is (id, reg, val) rows —
    m rows per vertex — so the per-round neighbor merge is a plain
    join + groupBy max over (id, reg): no arrays in aggregation, full
    map-side partial agg, hub vertices split across partitions like any
    other skewed key."""
    if not 4 <= b <= 12:
        raise ValueError(f"b must be in [4, 12], got {b}")
    spark = edges.sparkSession
    P = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    m = 1 << b

    e = checkpoint(
        edges.filter(F.col("src") != F.col("dst")).select("src", "dst").distinct(),
        P,
        "src",
    )
    nodes = _nodes(edges)

    # init: vertex v contributes one nonzero register — idx = low b bits of
    # xxhash64(v), val = leading-zero rank of the remaining W = 64-b bits
    # (exact integer arithmetic: bit-length via length(bin(x)), no float
    # log). Register-per-row: emit the zero registers too so every
    # (id, reg) key exists and the per-round merge is a pure max.
    W = 64 - b
    h64 = F.xxhash64(F.col("id"))
    idx = F.pmod(h64, F.lit(m)).cast("int")
    rest = F.shiftrightunsigned(h64, b)
    bitlen = F.length(F.bin(rest))  # floor(log2(rest)) + 1, exactly
    rank = (
        F.when(rest == F.lit(0), F.lit(W + 1))
        .otherwise(F.lit(W + 1) - bitlen)
        .cast("int")
    )
    sketch = checkpoint(
        nodes.select("id", idx.alias("_i"), rank.alias("_r"))
        .select(
            "id",
            F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("reg"),
            "_i",
            "_r",
        )
        .select(
            "id",
            "reg",
            F.when(F.col("reg") == F.col("_i"), F.col("_r"))
            .otherwise(F.lit(0))
            .cast("int")
            .alias("val"),
        ),
        P,
        "id",
    )

    def estimate(sk: DataFrame) -> float:
        # standard HLL estimator per vertex + linear-counting correction,
        # summed over vertices — one aggregate pass, all JVM-side
        per = sk.groupBy("id").agg(
            F.sum(F.pow(F.lit(2.0), -F.col("val"))).alias("z"),
            F.sum(F.when(F.col("val") == 0, 1).otherwise(0)).alias("zeros"),
        )
        am = _alpha(m) * m * m
        raw = F.lit(am) / F.col("z")
        lc = F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("zeros"))
        est = F.when(
            (raw <= F.lit(2.5 * m)) & (F.col("zeros") > 0), lc
        ).otherwise(raw)
        return float(per.agg(F.sum(est)).collect()[0][0])

    out = [(0, estimate(sketch))]
    for h in range(1, max_h + 1):
        # B(v, h) = B(v, h-1) ∪ ⋃_{v→w} B(w, h-1): registers of v merge the
        # max over out-neighbors' registers
        nbr = (
            e.join(sketch.withColumnRenamed("id", "dst"), "dst")
            .groupBy(F.col("src").alias("id"), "reg")
            .agg(F.max("val").alias("nval"))
        )
        merged = checkpoint(
            sketch.join(nbr, ["id", "reg"], "left").select(
                "id",
                "reg",
                F.greatest("val", F.coalesce("nval", F.lit(0))).alias("val"),
            ),
            P,
            "id",
        )
        sketch = merged
        out.append((h, estimate(sketch)))
    return spark.createDataFrame(out, "h bigint, pairs double")


# --- harmonic centrality ----------------------------------------------------


def distances_exact(
    edges: DataFrame, max_h: int, num_partitions: int | None = None
) -> DataFrame:
    """(a, b, d): exact min distance for every ordered pair with
    d(a,b) ≤ max_h (all-sources frontier BFS over the pair set —
    O(reachable pairs) state; the VALIDATION path behind harmonic_exact /
    closeness_exact, small-scale / sparse subgraphs only)."""
    spark = edges.sparkSession
    P = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    e = checkpoint(
        edges.filter(F.col("src") != F.col("dst")).select("src", "dst").distinct(),
        P,
        "src",
    )
    nodes = _nodes(edges)
    visited = checkpoint(
        nodes.select(F.col("id").alias("a"), F.col("id").alias("b"), F.lit(0).alias("d")),
        P,
        "b",
    )
    frontier = visited
    for h in range(1, max_h + 1):
        cand = (
            frontier.join(e.select(F.col("src").alias("b"), "dst"), "b")
            .select("a", F.col("dst").alias("b"))
            .distinct()
        )
        new = cand.join(visited.select("a", "b"), ["a", "b"], "left_anti").select(
            "a", "b", F.lit(h).alias("d")
        )
        frontier = checkpoint(new, P, "b")
        visited = checkpoint(visited.union(frontier), P, "b")
    return visited


def harmonic_exact(
    edges: DataFrame, max_h: int, num_partitions: int | None = None
) -> DataFrame:
    """Outgoing harmonic centrality bounded at max_h hops:
    H(v) = Σ_{u : 0 < d(v,u) ≤ max_h} 1/d(v,u). One row per vertex,
    (id BIGINT, harmonic DOUBLE), vertices reaching nothing get 0.0.

    This is the VALIDATION path (exact distances via `distances_exact`).
    The 100 TB path is `harmonic_hyperball`. The 1/d contributions are
    summed as decimal(18,6) so the result is order-independent and
    bit-identical across engines (the repo's exact decimal-sum float
    policy)."""
    nodes = _nodes(edges)
    contrib = (
        distances_exact(edges, max_h, num_partitions)
        .filter(F.col("d") > 0)
        .groupBy(F.col("a").alias("id"))
        .agg(
            F.sum((F.lit(1.0) / F.col("d")).cast("decimal(18,6)"))
            .cast("double")
            .alias("harmonic")
        )
    )
    return nodes.join(contrib, "id", "left").select(
        "id", F.coalesce("harmonic", F.lit(0.0)).alias("harmonic")
    )


def closeness_exact(
    edges: DataFrame, max_h: int, num_partitions: int | None = None
) -> DataFrame:
    """Bounded outgoing closeness: per vertex,
    reachable = |{u ≠ v : d(v,u) ≤ max_h}|, and
    closeness = reachable / Σ d(v,u) over that set (0.0 when nothing is
    reachable) — the bounded form of Lin's-index-style closeness used
    alongside harmonic in web measurements. Integer reachable/Σd, one
    final division, rounded to 6 dp (engine-portable).

    Returns (id BIGINT, reachable BIGINT, closeness DOUBLE)."""
    nodes = _nodes(edges)
    contrib = (
        distances_exact(edges, max_h, num_partitions)
        .filter(F.col("d") > 0)
        .groupBy(F.col("a").alias("id"))
        .agg(
            F.count(F.lit(1)).alias("reachable"),
            F.sum("d").cast("long").alias("_sd"),
        )
    )
    return nodes.join(contrib, "id", "left").select(
        "id",
        F.coalesce("reachable", F.lit(0)).cast("long").alias("reachable"),
        F.round(
            F.when(
                F.col("_sd").isNotNull(),
                F.col("reachable").cast("double") / F.col("_sd"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("closeness"),
    )


def harmonic_hyperball(
    edges: DataFrame,
    max_h: int,
    b: int = 8,
    num_partitions: int | None = None,
) -> DataFrame:
    """HyperBall estimate of bounded harmonic centrality — the measure
    HyperBall was built for (Boldi & Vigna 2013, §4): per vertex,
    H(v) ≈ Σ_{h=1..max_h} (|B(v,h)| − |B(v,h−1)|)/h using the per-vertex
    HLL ball-size estimates. Returns (id, harmonic DOUBLE).

    Same register-per-row state and join+max merge as
    `neighborhood_hyperball` — O(m·|E|) shuffled rows per round, no pair
    materialization, so it scales like a PageRank iteration. Ball-size
    deltas are clamped at 0 (the HLL estimator can dip when crossing the
    linear-counting boundary). Deterministic (xxhash64 registers) but
    engine-specific — pytest-gated against `harmonic_exact`."""
    if not 4 <= b <= 12:
        raise ValueError(f"b must be in [4, 12], got {b}")
    spark = edges.sparkSession
    P = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    m = 1 << b

    e = checkpoint(
        edges.filter(F.col("src") != F.col("dst")).select("src", "dst").distinct(),
        P,
        "src",
    )
    nodes = _nodes(edges)

    W = 64 - b
    h64 = F.xxhash64(F.col("id"))
    idx = F.pmod(h64, F.lit(m)).cast("int")
    rest = F.shiftrightunsigned(h64, b)
    bitlen = F.length(F.bin(rest))
    rank = (
        F.when(rest == F.lit(0), F.lit(W + 1))
        .otherwise(F.lit(W + 1) - bitlen)
        .cast("int")
    )
    sketch = checkpoint(
        nodes.select("id", idx.alias("_i"), rank.alias("_r"))
        .select(
            "id",
            F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("reg"),
            "_i",
            "_r",
        )
        .select(
            "id",
            "reg",
            F.when(F.col("reg") == F.col("_i"), F.col("_r"))
            .otherwise(F.lit(0))
            .cast("int")
            .alias("val"),
        ),
        P,
        "id",
    )

    def per_vertex_est(sk: DataFrame) -> DataFrame:
        per = sk.groupBy("id").agg(
            F.sum(F.pow(F.lit(2.0), -F.col("val"))).alias("z"),
            F.sum(F.when(F.col("val") == 0, 1).otherwise(0)).alias("zeros"),
        )
        am = _alpha(m) * m * m
        raw = F.lit(am) / F.col("z")
        lc = F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("zeros"))
        est = F.when(
            (raw <= F.lit(2.5 * m)) & (F.col("zeros") > 0), lc
        ).otherwise(raw)
        return per.select("id", est.alias("est"))

    # running state: (id, prev ball estimate, accumulated harmonic)
    acc = checkpoint(
        per_vertex_est(sketch).select(
            "id", F.col("est").alias("prev"), F.lit(0.0).alias("harmonic")
        ),
        P,
        "id",
    )
    for h in range(1, max_h + 1):
        nbr = (
            e.join(sketch.withColumnRenamed("id", "dst"), "dst")
            .groupBy(F.col("src").alias("id"), "reg")
            .agg(F.max("val").alias("nval"))
        )
        sketch = checkpoint(
            sketch.join(nbr, ["id", "reg"], "left").select(
                "id",
                "reg",
                F.greatest("val", F.coalesce("nval", F.lit(0))).alias("val"),
            ),
            P,
            "id",
        )
        est_h = per_vertex_est(sketch)
        acc = checkpoint(
            acc.join(est_h, "id").select(
                "id",
                F.col("est").alias("prev"),
                (
                    F.col("harmonic")
                    + F.greatest(F.col("est") - F.col("prev"), F.lit(0.0))
                    / F.lit(float(h))
                ).alias("harmonic"),
            ),
            P,
            "id",
        )
    return acc.select("id", "harmonic")


def effective_diameter(nf: DataFrame, q: float = 0.9) -> float:
    """Smallest h where N(h) ≥ q·N(max_h), linearly interpolated between
    h-1 and h (the standard definition used with HyperBall/ANF curves)."""
    rows = sorted((r["h"], float(r["pairs"])) for r in nf.collect())
    if not rows:
        raise ValueError("empty neighborhood function")
    target = q * rows[-1][1]
    prev_h, prev_n = rows[0]
    for h, nh in rows:
        if nh >= target:
            if h == prev_h or nh == prev_n:
                return float(h)
            return prev_h + (target - prev_n) / (nh - prev_n) * (h - prev_h)
        prev_h, prev_n = h, nh
    return float(rows[-1][0])


def diameter_two_sweep(edges: DataFrame, max_depth: int = 60) -> DataFrame:
    """Double-sweep diameter lower bound on the undirected simple graph
    (Magnien, Latapy & Habib, ACM JEA 2009 — the standard cheap bound,
    empirically tight on web/social graphs): BFS from a deterministic
    start (the minimum node id), then BFS from the farthest node found
    (max dist, min-id tie-break); the second sweep's eccentricity lower-
    bounds the diameter. Two bfs_levels runs — each the frontier kernel
    with its per-level checkpoint discipline — plus two 1-row driver
    reductions to pick the seeds (scalar decisions between phases, the
    same pattern as every iterative kernel's convergence check).

    Returns ONE row (start1, ecc1, start2, diameter_lb), exact longs.
    Both sweeps honor max_depth; the bound is exact when ecc < max_depth
    (sweeps that hit the cap report the capped value)."""
    sym = (
        edges.filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .unionAll(
            edges.filter(F.col("src") != F.col("dst")).select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
        .distinct()
    )
    from engine.operators.bfs import bfs_levels

    spark = edges.sparkSession
    schema = "start1 long, ecc1 long, start2 long, diameter_lb long"
    start1 = sym.agg(F.min("src")).collect()[0][0]
    if start1 is None:  # no non-loop edges: no rows, not a crash
        return spark.createDataFrame([], schema)
    d1 = bfs_levels(sym, spark.createDataFrame([(start1,)], "id long"), max_depth)
    far = d1.orderBy(F.col("dist").desc(), F.col("id").asc()).limit(1).collect()[0]
    d2 = bfs_levels(sym, spark.createDataFrame([(far.id,)], "id long"), max_depth)
    ecc2 = d2.agg(F.max("dist")).collect()[0][0]
    return spark.createDataFrame(
        [(int(start1), int(far.dist), int(far.id), int(ecc2))], schema
    )
