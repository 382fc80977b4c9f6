"""Densest subgraph via parallel peeling — the MapReduce algorithm.

Bahmani, Kumar & Vassilvitskii (VLDB 2012, "Densest Subgraph in
Streaming and MapReduce"): repeatedly delete EVERY vertex whose current
degree is at most 2(1+eps) times the current density rho(S) = |E(S)|/|S|;
the best S seen across rounds is a 2(1+eps)-approximation to the densest
subgraph, and the vertex count shrinks geometrically — O(log n / eps)
rounds total, each round one degree aggregate + one semi-join. The
density-ADAPTIVE threshold is what distinguishes this from the fixed-k
k-core peel (kcore.py) and buys the approximation guarantee. On a web
graph the densest subgraph is the classic link-farm / tight-community
signal (Gibson-Kumar-Tomkins 2005).

Determinism & portability: every round's degree, |E|, |S| are exact
integers; the only float is the threshold 2(1+eps)·|E|/|S| — an IEEE
expression both engines evaluate bit-identically from the same integers,
so the peel sets are engine-portable except when an integer degree lands
EXACTLY on the threshold (the eps-boundary risk class the g32 gate
already accepts; with eps=0.1 the factor 2.2000000000000002 makes exact
hits essentially impossible on integer ratios).

Semantics: simple undirected graph (direction ignored, duplicates
collapsed, self-loops dropped — the mis.py convention). Isolated-after-
simplification vertices never enter S (they have no edges and zero
degree: they'd peel in round 1 anyway and only dilute the density).

Outputs: `peel_decomposition` labels every vertex with the round it was
removed (NULL = survives all fixed rounds) — the density-onion analogue
of k-core's onion layers. `densest_subgraph` runs to the empty graph and
returns the best round's surviving vertex set.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, functions as F

from engine.operators._checkpoint import checkpoint


def _simple_und(edges: DataFrame) -> DataFrame:
    base = edges.filter(F.col("src") != F.col("dst")).select("src", "dst")
    return base.union(
        base.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()


def peel_decomposition(
    edges: DataFrame,
    eps: float = 0.1,
    max_rounds: int = 200,
    fixed_rounds: int | None = None,
    num_partitions: int | None = None,
    metrics: list | None = None,
) -> DataFrame:
    """Density-adaptive peel labels.

    Returns (id BIGINT, peel_round INT): the round each vertex was
    removed (deg <= 2(1+eps)·rho at that round); NULL peel_round =
    still alive after fixed_rounds (only possible in fixed-round mode —
    the unrolled-SQL oracle variant). Default mode peels to the empty
    graph (raises past max_rounds; the survivor count shrinks by a
    (1+eps)/(2+eps) factor per round, so 200 means a bug).
    metrics: one dict per round (n_vertices, n_edges, density, removed,
    wall) when provided — n/edges/density describe the graph the round
    SAW, i.e. the best-density round is argmax over these entries.
    """
    if eps <= 0:
        raise ValueError(f"eps must be > 0, got {eps}")
    if fixed_rounds is not None and fixed_rounds < 1:
        raise ValueError("fixed_rounds must be >= 1")
    spark = edges.sparkSession
    P = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    factor = 2.0 * (1.0 + eps)

    und = checkpoint(_simple_und(edges), P, "src")
    out = None  # (id, peel_round) accumulator

    rounds = fixed_rounds if fixed_rounds is not None else max_rounds
    for rnd in range(1, rounds + 1):
        t0 = time.time()
        # one pass: per-vertex degree + the two scalars |S| and 2|E(S)|
        deg = und.groupBy(F.col("src").alias("id")).agg(
            F.count(F.lit(1)).alias("deg")
        )
        deg = checkpoint(deg, P, "id")
        tot = deg.agg(
            F.count(F.lit(1)).alias("n"), F.sum("deg").alias("deg2")
        )  # sum(deg) = 2|E(S)|
        row = tot.collect()[0]
        n_s, m2 = row.n, row.deg2
        if n_s == 0:
            break
        density = float(m2) / 2.0 / float(n_s)
        peeled = deg.filter(F.col("deg") <= F.lit(factor) * F.lit(density)).select(
            "id", F.lit(rnd).cast("int").alias("peel_round")
        )
        out = peeled if out is None else out.union(peeled)
        und = checkpoint(
            und.join(
                peeled.select(F.col("id").alias("src")), "src", "left_anti"
            ).join(peeled.select(F.col("id").alias("dst")), "dst", "left_anti")
            .select("src", "dst"),
            P,
            "src",
        )
        if metrics is not None:
            metrics.append(
                {
                    "round": rnd,
                    "n_vertices": n_s,
                    "n_edges": int(m2) // 2,
                    "density": density,
                    "removed": None,  # filled below if needed by caller
                    "wall_sec": round(time.time() - t0, 4),
                }
            )
    else:
        if fixed_rounds is None:
            raise RuntimeError(
                f"peel_decomposition did not empty the graph within "
                f"max_rounds={max_rounds} — geometric shrink guarantees "
                "O(log n / eps) rounds"
            )

    survivors = (
        und.select(F.col("src").alias("id"))
        .union(und.select(F.col("dst").alias("id")))
        .distinct()
        .select("id", F.lit(None).cast("int").alias("peel_round"))
    )
    if out is None:
        return checkpoint(survivors, P, "id")
    return checkpoint(out.union(survivors), P, "id")


def densest_subgraph(
    edges: DataFrame,
    eps: float = 0.1,
    max_rounds: int = 200,
    num_partitions: int | None = None,
    metrics: list | None = None,
) -> DataFrame:
    """2(1+eps)-approximate densest subgraph.

    Returns the member vertices (id BIGINT) of the best-density round's
    surviving graph, i.e. the graph state BEFORE that round's peel. The
    round-1 state is the whole simple graph, so the result is never
    empty on a graph with at least one edge. Best-round stats (density,
    sizes) land in `metrics` when provided.
    """
    m: list = metrics if metrics is not None else []
    labels = peel_decomposition(
        edges, eps=eps, max_rounds=max_rounds, num_partitions=num_partitions, metrics=m
    )
    best = max(m, key=lambda e: (e["density"], -e["round"]))
    best_round = best["round"]
    # alive at round r = peeled at a round >= r, or never peeled
    return labels.filter(
        F.col("peel_round").isNull() | (F.col("peel_round") >= best_round)
    ).select("id")
