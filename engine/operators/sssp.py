"""Weighted single-source shortest paths: frontier Bellman-Ford.

The weighted companion to bfs.py (unweighted hop distance) — no reference
counterpart (SURVEY §7 Phase 3 family). Per round, only vertices whose
distance IMPROVED last round relax their out-edges (the frontier/delta
optimization of distributed Bellman-Ford, e.g. Pregel's SSSP example), so
quiet regions of the graph cost nothing after they settle. The Bellman-Ford
invariant holds round by round: after k rounds `dist` is exactly the
minimum weight over paths of ≤ k edges — which makes the fixed-rounds
variant unroll into portable SQL (the kcore_fixed_rounds technique).

Scale shape: edges are repartitioned on src ONCE and pinned (the bfs.py
pattern); each round shuffles only the frontier into the join and the
relaxed candidates into a groupBy(dst) min. Both state frames are eagerly
localCheckpoint-ed every round (plan growth — see the iterative-kernel
rules in _checkpoint.py). Weights must be ≥ 0 (validated up front): with
negative weights Bellman-Ford needs the V-round bound + negative-cycle
detection, which a crawl-distance/latency use case never has.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from engine.operators._checkpoint import checkpoint_observed


def sssp(
    edges: DataFrame,
    sources: DataFrame,
    weight_col: str = "wt",
    max_rounds: int = 100,
    num_partitions: int | None = None,
) -> DataFrame:
    """Minimum path weight from any source along directed weighted edges.

    edges: (src, dst, <weight_col>) with weights ≥ 0; sources: single-column
    (id) seed set. Returns (id BIGINT, dist DOUBLE) for every reachable
    vertex (sources at 0.0); unreachable vertices are absent. With
    max_rounds=k the result is the exact min weight over paths of ≤ k edges
    (converged earlier if a round improves nothing).
    """
    spark = edges.sparkSession
    P = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    wc = F.col(weight_col).cast("double")
    if edges.filter(wc < 0).limit(1).count():
        raise ValueError(f"negative values in weight column {weight_col!r}")
    e = (
        edges.select("src", "dst", wc.alias("_w"))
        .repartition(P, "src")
        .persist()
    )

    dist = (
        sources.select(F.col(sources.columns[0]).alias("id"))
        .distinct()
        .withColumn("dist", F.lit(0.0))
        .repartition(P, "id")
        .localCheckpoint(eager=True)
    )
    frontier = dist

    for _ in range(max_rounds):
        cand = (
            frontier.join(e, frontier.id == e.src)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min(F.col("dist") + F.col("_w")).alias("cand"))
        )
        # improved = candidates strictly better than the settled distance
        improved, obs = checkpoint_observed(
            cand.join(dist.withColumnRenamed("dist", "old"), "id", "left")
            .filter(F.col("old").isNull() | (F.col("cand") < F.col("old")))
            .select("id", F.col("cand").alias("dist")),
            P,
            observe=(F.count(F.lit(1)).alias("rows"),),
        )
        if obs["rows"] == 0:
            break
        # merge: improved rows replace, everything else carries over. One
        # materialization per round (anti-join + union of two checkpointed
        # frames), re-checkpointed eagerly so the plan stays O(1) deep.
        dist = (
            dist.join(improved.select("id"), "id", "left_anti")
            .union(improved)
            .repartition(P, "id")
            .localCheckpoint(eager=True)
        )
        frontier = improved
    e.unpersist()
    return dist


def sssp_fixed_rounds(
    edges: DataFrame,
    sources: DataFrame,
    rounds: int,
    weight_col: str = "wt",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exactly `rounds` Bellman-Ford relaxation rounds: min path weight over
    paths of ≤ `rounds` edges (the SQL-unrollable prefix semantics —
    identical to sssp(max_rounds=rounds) by the Bellman-Ford invariant)."""
    return sssp(
        edges, sources, weight_col=weight_col,
        max_rounds=rounds, num_partitions=num_partitions,
    )
