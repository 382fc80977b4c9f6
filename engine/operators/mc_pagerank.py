"""Monte-Carlo PageRank: walk-based rank estimation over the edge table.

The published cheap path for HUGE and incrementally-changing graphs
(Avrachenkov, Litvak, Nemirovsky, Osipova, "Monte Carlo methods in
PageRank computation", SIAM J. Numer. Anal. 2007): instead of power
iteration's full edge-sized gather per iteration, run R independent
random-surfer walks from every node — continue along a uniform
out-neighbor with probability α, stop otherwise, jump uniformly at
dangling nodes — and estimate

    PR(v) ≈ visits(v) / Σ_u visits(u)          ("complete path" estimator)

which is exact in expectation because the step-k frontier is distributed
as (α·P̃)ᵏ·u and π ∝ Σ_k (α·P̃)ᵏ·u. Standard error per node scales as
1/√(n·R), so it is an APPROXIMATION — useful where a full power sweep is
not: warm re-estimation after small crawl deltas (only walks through
changed vertices need re-running in the incremental variant), and
rank-order triage at 10¹²-edge scale where each exact iteration is a full
shuffle of the edge set.

Determinism (same contract as walks.py / sampling.py): every "random"
decision — survive vs stop, neighbor pick, dangling jump target — is an
md5 content hash of (current node, step, walk id, salt), so the estimate
depends only on the graph, num_walks and salt: reproducible under any
partitioning, retry, or cluster size, and replayable in any SQL engine.

Physical shape: per step one degree join + one (src, idx) adjacency join
(the PageRank gather shape — same partitioning/skew story), state is
O(surviving walkers) rows and decays geometrically (α^k); lineage is
truncated per step, the visit log is re-checkpointed every few steps
(bfs.py plan-depth rule). The dangling jump maps a hash to a node via a
dense 0..n-1 index built with the two-phase range-partition assigner
(graph.py:dense_node_ids pattern) — no global single-partition window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from engine.operators._checkpoint import checkpoint
from engine.operators.walks import _hash_idx


def _dense_index(nodes: DataFrame, P: int) -> DataFrame:
    """(jidx BIGINT 0..n-1, id) in ascending-id order — two-phase: range
    partition by id, local row_number, per-partition counts prefix-summed
    into offsets (≤P tiny rows broadcast back). No global window."""
    parted = nodes.repartitionByRange(P, "id").withColumn(
        "_pid", F.spark_partition_id()
    )
    w = Window.partitionBy("_pid").orderBy("id")
    local = parted.select(
        "id", "_pid", (F.row_number().over(w) - 1).cast("long").alias("_local")
    )
    counts = local.groupBy("_pid").agg(F.count(F.lit(1)).alias("_cnt"))
    woff = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "_pid", F.coalesce(F.sum("_cnt").over(woff), F.lit(0)).alias("_off")
    )
    return local.join(F.broadcast(offsets), "_pid").select(
        (F.col("_off") + F.col("_local")).alias("jidx"), "id"
    )


def mc_pagerank(
    edges: DataFrame,
    num_walks: int = 16,
    alpha: float = 0.85,
    max_len: int = 64,
    salt: str = "",
    nodes: DataFrame | None = None,
    num_partitions: int | None = None,
    check_every: int = 8,
) -> DataFrame:
    """Estimated PageRank (id, rank) with Σrank = 1, from num_walks
    hash-deterministic surfer walks per node.

    max_len caps walk length (a walk survives k steps with probability
    αᵏ ≈ 3e-5 at the default cap — truncation bias far below the
    1/√(n·R) sampling noise). check_every: cadence of the liveness
    count() that exits the loop early once every walker has stopped.
    Self-loops participate (the surfer can stay put), duplicate edges are
    collapsed — same simple-graph adjacency as walks.random_walks.
    """
    if not 0 < alpha < 1:
        raise ValueError("alpha must be in (0, 1)")
    spark = edges.sparkSession
    P = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))

    adj = edges.select("src", "dst").distinct()
    w = Window.partitionBy("src").orderBy("dst")
    adj = checkpoint(
        adj.select("src", "dst", (F.row_number().over(w) - 1).cast("long").alias("idx")),
        P,
        "src",
    )
    deg = adj.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))

    if nodes is None:
        nodes = (
            edges.select(F.col("src").alias("id"))
            .union(edges.select(F.col("dst").alias("id")))
            .distinct()
        )
    jmp = checkpoint(_dense_index(nodes.select("id").distinct(), P), P, "jidx")
    n = jmp.count()

    # survive iff hash32 < floor(alpha·2³²): the '#t' tag decorrelates the
    # termination draw from the '#m' move draw at the same (cur, step, walk)
    threshold = int(alpha * (1 << 32))

    replicas = spark.range(num_walks).select(F.col("id").alias("rep"))
    frontier = checkpoint(
        jmp.select("id")
        .crossJoin(replicas)
        .select(
            (F.col("id") * num_walks + F.col("rep")).alias("walk_id"),
            F.col("id").alias("cur"),
        ),
        P,
        "cur",
    )
    visits = frontier.select(F.col("cur").alias("node"))

    for step in range(1, max_len + 1):
        alive = frontier.filter(
            _hash_idx(F.col("cur"), step, F.col("walk_id"), salt + "#t") < F.lit(threshold)
        )
        with_deg = alive.join(deg.withColumnRenamed("src", "cur"), "cur", "left")
        move = F.pmod(
            _hash_idx(F.col("cur"), step, F.col("walk_id"), salt + "#m"),
            F.coalesce(F.col("deg"), F.lit(n)),
        )
        linked = (
            with_deg.filter(F.col("deg").isNotNull())
            .select("walk_id", "cur", move.alias("idx"))
            .join(adj.withColumnRenamed("src", "cur"), ["cur", "idx"])
            .select("walk_id", F.col("dst").alias("cur"))
        )
        jumped = (
            with_deg.filter(F.col("deg").isNull())
            .select("walk_id", move.alias("jidx"))
            .join(jmp, "jidx")
            .select("walk_id", F.col("id").alias("cur"))
        )
        frontier = checkpoint(linked.unionByName(jumped), P, "cur")
        visits = visits.union(frontier.select(F.col("cur").alias("node")))
        if step % check_every == 0:
            visits = checkpoint(visits, P, "node")
            if frontier.limit(1).count() == 0:
                break

    counts = visits.groupBy("node").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("tot"))
    return (
        jmp.select("id")
        .join(counts.withColumnRenamed("node", "id"), "id", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "id",
            (F.coalesce(F.col("cnt"), F.lit(0)) / F.col("tot")).alias("rank"),
        )
    )
