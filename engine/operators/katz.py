"""Katz centrality over the directed link graph.

x(v) = Σ_{k≥1} β^k · (number of length-k paths ending at v), the classic
attenuation-based link-analysis score (Katz 1953) — the third member of
the PageRank/HITS family of power-iteration measures this engine ships.
Computed by the standard fixed-point iteration

    x_{k+1}(v) = 1 + β · Σ_{u→v} x_k(u),   x_0 = 1

which converges for β < 1/λ_max(A); at the fixpoint x(v) − 1 is the Katz
series above. Each round is one src-keyed join + sum aggregate over the
edge set — the exact PageRank gather shape, so the same partitioning and
skew handling carries over, and rounds materialize with an eager
localCheckpoint (lineage truncation) like every iterative kernel here.

Duplicate edges count (parallel links add paths), matching the raw-edge
adjacency convention of pagerank.py. Convergence is an L1 delta over one
aggregate pass on the just-stored blocks (the scc.py carry-the-old-value
trick).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, functions as F

from engine.operators._checkpoint import checkpoint


def katz_centrality(
    edges: DataFrame,
    beta: float = 0.05,
    tol: float = 1e-9,
    max_iter: int = 100,
    num_partitions: int | None = None,
    metrics: list | None = None,
) -> DataFrame:
    """Katz scores (id BIGINT, katz DOUBLE) over src ∪ dst.

    tol: L1 convergence threshold; set tol=0.0 with a small max_iter for
    the fixed-iteration variant (expressible as unrolled SQL — the
    i1b/g6b oracle technique). metrics: one dict per iteration (delta,
    wall) when provided. Raises if β ≥ 1 (trivially divergent) — callers
    must pick β below 1/λ_max for their graph; non-convergence within
    max_iter at tol > 0 raises rather than returning wrong scores.
    """
    if not 0.0 < beta < 1.0:
        raise ValueError(f"beta must be in (0, 1), got {beta}")
    spark = edges.sparkSession
    P = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))

    e = checkpoint(edges.select("src", "dst"), P, "src")
    nodes = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    x = checkpoint(nodes.select("id", F.lit(1.0).alias("x")), P, "id")

    converged = tol <= 0.0
    for it in range(max_iter):
        t0 = time.time()
        gathered = (
            e.join(x.select(F.col("id").alias("src"), "x"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("x").alias("g"))
        )
        x_new = checkpoint(
            x.select("id", F.col("x").alias("x_old"))
            .join(gathered, "id", "left")
            .select(
                "id",
                (F.lit(1.0) + F.lit(beta) * F.coalesce("g", F.lit(0.0))).alias("x"),
                "x_old",
            ),
            P,
            "id",
        )
        delta = float(
            x_new.agg(F.sum(F.abs(F.col("x") - F.col("x_old")))).collect()[0][0]
        )
        x = x_new.select("id", "x")
        if metrics is not None:
            metrics.append(
                {"iter": it, "delta": delta, "wall_sec": round(time.time() - t0, 4)}
            )
        if tol > 0.0 and delta < tol:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"Katz iteration did not reach tol={tol} within max_iter={max_iter} "
            f"(last delta {delta}); beta may be at or above 1/lambda_max"
        )
    return x.select("id", F.col("x").alias("katz"))
