"""Frontier BFS over the edge table (unweighted shortest hop distance).

The reference's crawl loop is a BFS frontier with a visited set
(crawler/core.py:239-318: deque + `if target not in visited`); with no live
crawling in scope, the same pattern is realized as a graph operator — per
round: frontier ⋈ edges gather, `distinct`, anti-join against visited
(SURVEY §2.3-J5), union into visited. Lineage is truncated every round
(eager localCheckpoint), mirroring the iterative kernels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from engine.operators._checkpoint import checkpoint_observed


VISITED_RECHECKPOINT_EVERY = 50  # bound the visited-union plan depth


def bfs_levels(
    edges: DataFrame,
    sources: DataFrame,
    max_depth: int = 20,
    num_partitions: int | None = None,
) -> DataFrame:
    """Hop distance from any source along directed edges.

    edges: (src, dst); sources: single-column (id) seed set.
    Returns (id BIGINT, dist INT) for every reachable node (sources dist 0);
    unreachable nodes are absent — left-join against the node universe for
    the crawl-style 'never visited' view.
    """
    spark = edges.sparkSession
    P = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    # persisted: without the pin every round re-executes the src-repartition
    # of the full edge table from source — the whole point of pre-partitioning
    # is paying that shuffle once for the entire traversal.
    e = edges.select("src", "dst").repartition(P, "src").persist()

    visited = (
        sources.select(F.col(sources.columns[0]).alias("id"))
        .distinct()
        .withColumn("dist", F.lit(0))
        .localCheckpoint(eager=True)
    )
    frontier = visited.select("id")

    for depth in range(1, max_depth + 1):
        nxt = (
            frontier.join(e, frontier.id == e.src)
            .select(F.col("dst").alias("id"))
            .distinct()
            .join(visited.select("id"), "id", "left_anti")
            .withColumn("dist", F.lit(depth))
        )
        # the level's row count is observed on its checkpoint job, so an
        # empty level costs no second job
        nxt, obs = checkpoint_observed(nxt, P, observe=(F.count(F.lit(1)).alias("rows"),))
        if obs["rows"] == 0:
            break
        # no re-checkpoint of the union PER LEVEL: every level frame is
        # already an eager checkpoint, so the union is a shallow tree of
        # materialized leaves — re-checkpointing it each level would rewrite
        # the ENTIRE visited set once per level (O(V·depth) block writes
        # over the traversal). But the union tree still grows one node per
        # level, and each level's anti-join re-analyzes it (O(depth²)
        # planning; very deep trees risk Catalyst stack overflow on
        # high-diameter graphs — chains/grids run thousands of levels), so
        # the union is compacted every VISITED_RECHECKPOINT_EVERY levels:
        # amortized O(V·depth/K) extra writes, plan depth bounded by K.
        visited = visited.union(nxt)
        if depth % VISITED_RECHECKPOINT_EVERY == 0:
            visited = visited.localCheckpoint(eager=True)
        frontier = nxt.select("id")
    e.unpersist()  # visited is an eager checkpoint — safe to drop the edges pin
    return visited
