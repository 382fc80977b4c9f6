"""Eigenvector centrality over the directed link graph.

The original spectral link-analysis measure (Bonacich 1972): the dominant
right-eigenvector of Aᵀ, computed by the classic power iteration

    x_{k+1} = (Aᵀ x_k) / ||Aᵀ x_k||₂ ,   x_0 = 1/√n

PageRank is exactly this measure with damping + dangling repair (reference
`backend/cuda/pagerank_gpu.cu` implements the damped variant); shipping the
undamped original completes the engine's power-iteration family
(PageRank / personalized PR / weighted PR / HITS / SALSA / Katz /
eigenvector). Defined on the simple graph (duplicate edges collapsed,
matching the HITS adjacency convention); nodes with no in-edges go to 0
mass after one round, and on graphs whose condensation has several sink
components the limit concentrates on dominant components — callers wanting
a globally mixed score should use pagerank() (that is WHY damping exists).

Physical layout mirrors katz.py: each round is one src-keyed join + sum
aggregate over the deduped edge set (the PageRank gather shape — the same
partitioning and skew arguments hold), the L2 norm is one scalar aggregate
on the freshly materialized round, and lineage is truncated per round with
an eager localCheckpoint. The convergence check reuses the carry-the-old-
value trick (x_old kept in the round's row) so delta costs no extra join.
"""

from __future__ import annotations

import math
import time

from pyspark.sql import DataFrame, functions as F

from engine.operators._checkpoint import checkpoint


def eigenvector_centrality(
    edges: DataFrame,
    tol: float = 1e-8,
    max_iter: int = 100,
    num_partitions: int | None = None,
    metrics: list | None = None,
) -> DataFrame:
    """Eigenvector scores (id BIGINT, ev DOUBLE) over src ∪ dst, ||x||₂ = 1.

    tol: L1 convergence threshold on Σ|x_k − x_{k−1}|; set tol=0.0 with a
    small max_iter for the fixed-iteration variant (expressible as unrolled
    SQL — the i1b/g6b oracle technique). metrics: one dict per iteration
    (l2 norm, delta, wall) when provided. Raises on an empty edge set (the
    norm is 0 and the measure undefined) and on non-convergence within
    max_iter at tol > 0 — the iteration oscillates on strongly bipartite
    structure (period-2 eigenvalues), and returning a non-converged vector
    silently would be wrong.
    """
    spark = edges.sparkSession
    P = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))

    e = checkpoint(edges.select("src", "dst").distinct(), P, "src")
    nodes = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    n = nodes.count()
    if n == 0:
        raise ValueError("eigenvector_centrality on an empty edge set")
    x = checkpoint(nodes.select("id", F.lit(1.0 / math.sqrt(n)).alias("x")), P, "id")

    converged = tol <= 0.0
    delta = float("nan")
    for it in range(max_iter):
        t0 = time.time()
        gathered = (
            e.join(x.select(F.col("id").alias("src"), "x"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("x").alias("g"))
        )
        raw = checkpoint(
            x.select("id", F.col("x").alias("x_old"))
            .join(gathered, "id", "left")
            .select("id", F.coalesce("g", F.lit(0.0)).alias("g"), "x_old"),
            P,
            "id",
        )
        nrm = float(raw.agg(F.sqrt(F.sum(F.col("g") * F.col("g")))).collect()[0][0])
        if nrm == 0.0:
            raise RuntimeError(
                "eigenvector iteration collapsed to the zero vector "
                "(no in-edges reachable from the support) — the measure is "
                "undefined on this graph; use pagerank() for a damped score"
            )
        x_new = raw.select(
            "id", (F.col("g") / F.lit(nrm)).alias("x"), "x_old"
        )
        delta = float(
            x_new.agg(F.sum(F.abs(F.col("x") - F.col("x_old")))).collect()[0][0]
        )
        x = x_new.select("id", "x")
        if metrics is not None:
            metrics.append(
                {
                    "iter": it,
                    "l2_norm": nrm,
                    "delta": delta,
                    "wall_sec": round(time.time() - t0, 4),
                }
            )
        if tol > 0.0 and delta < tol:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"eigenvector iteration did not reach tol={tol} within "
            f"max_iter={max_iter} (last delta {delta}); bipartite-like "
            "period-2 structure never converges — use hits() there"
        )
    return x.select("id", F.col("x").alias("ev"))
