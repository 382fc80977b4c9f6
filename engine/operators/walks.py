"""Deterministic random-walk corpus generation over the link graph.

Walk corpora are the training input of DeepWalk/node2vec-style graph
embeddings; at web scale the generator has to be (a) driver-free — every
step a partitioned join, never a per-walk loop — and (b) reproducible, or
no two runs of the pipeline train on the same corpus. Same trick as
sampling.py: the "random" neighbor choice is a content hash —

    idx(step) = md5(cur || '|' || step || '|' || walk_id || salt)
                 as a uniform integer, mod out-degree(cur)

so a walk depends only on (start, walk_id, salt) and the adjacency, not
on partitioning, retries, or cluster size — and the whole corpus is
recomputable in any SQL engine for auditing (the DuckDB oracle replays
the identical arithmetic).

Mechanics: the deduped adjacency gets a per-src neighbor index
(row_number over dst order — deterministic for a set), walks advance by
joining the frontier on (cur, idx). Walks that reach a dangling vertex
terminate (the emitted walk is shorter — standard DeepWalk behavior).
Each step is one join against the degree table + one join against the
adjacency, both src-keyed — the PageRank gather shape, so the same
partitioning and skew handling applies. State is O(#walks) rows; steps
materialize with lineage truncation like every iterative kernel here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from engine.operators._checkpoint import checkpoint


def _hash_idx(cur, step: int, walk_id, salt: str):
    """Uniform integer from md5 — portable across engines (sampling.py)."""
    h = F.md5(
        F.concat_ws(
            "|", cur.cast("string"), F.lit(str(step)), walk_id.cast("string"), F.lit(salt)
        )
    )
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long")


def random_walks(
    edges: DataFrame,
    walk_length: int,
    num_walks: int = 1,
    salt: str = "",
    num_partitions: int | None = None,
) -> DataFrame:
    """Generate num_walks hash-deterministic walks from EVERY vertex.

    Returns (walk_id BIGINT, step BIGINT, node BIGINT): step 0 is the
    start vertex; a walk that hits a vertex with no out-edges simply has
    no later steps. walk_id = start_node * num_walks + replica, so the
    corpus is stable under any growth of the node set's partitioning.
    """
    if walk_length < 0:
        raise ValueError("walk_length must be >= 0")
    if num_walks < 1:
        raise ValueError("num_walks must be >= 1")
    spark = edges.sparkSession
    P = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))

    adj = edges.filter(F.col("src") != F.col("dst")).select("src", "dst").distinct()
    # deterministic neighbor index: row_number over the dst order within
    # each src (a set has one sorted order — reproducible anywhere)
    w = Window.partitionBy("src").orderBy("dst")
    adj = checkpoint(
        adj.select("src", "dst", (F.row_number().over(w) - 1).cast("long").alias("idx")),
        P,
        "src",
    )
    deg = adj.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))

    nodes = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    replicas = spark.range(num_walks).select(F.col("id").alias("rep"))
    frontier = checkpoint(
        nodes.crossJoin(replicas).select(
            (F.col("id") * num_walks + F.col("rep")).alias("walk_id"),
            F.col("id").alias("cur"),
        ),
        P,
        "cur",
    )
    out = frontier.select("walk_id", F.lit(0).cast("long").alias("step"), F.col("cur").alias("node"))

    for step in range(1, walk_length + 1):
        chosen = (
            frontier.join(deg.withColumnRenamed("src", "cur"), "cur")  # dangling walks drop out
            .select(
                "walk_id",
                "cur",
                F.pmod(_hash_idx(F.col("cur"), step, F.col("walk_id"), salt), F.col("deg")).alias("idx"),
            )
            .join(adj.withColumnRenamed("src", "cur"), ["cur", "idx"])
            .select("walk_id", F.col("dst").alias("cur"))
        )
        frontier = checkpoint(chosen, P, "cur")
        out = out.union(
            frontier.select("walk_id", F.lit(step).cast("long").alias("step"), F.col("cur").alias("node"))
        )
        if step % 25 == 0:  # bound the output union's plan depth (bfs.py rule)
            out = checkpoint(out, P, "walk_id")

    return out.select("walk_id", "step", "node")


def node2vec_walks(
    edges: DataFrame,
    walk_length: int,
    num_walks: int = 1,
    return_weight: int = 1,
    in_weight: int = 1,
    out_weight: int = 1,
    salt: str = "",
    num_partitions: int | None = None,
) -> DataFrame:
    """Hash-deterministic node2vec walks (Grover & Leskovec 2016).

    Second-order bias: stepping from `prev` at `cur`, each out-neighbor x
    of cur weighs

        return_weight  if x == prev           (node2vec alpha = 1/p)
        in_weight      if edge prev->x exists (alpha = 1)
        out_weight     otherwise              (alpha = 1/q)

    Weights are INTEGERS (>= 0; scale any rational 1/p : 1 : 1/q to
    integers, e.g. p=0.5, q=2 -> 4:2:1) so the weighted draw is exact
    integer arithmetic — draw = md5-uniform mod total_weight, pick the
    neighbor whose cumulative-weight interval (over the sorted-dst order)
    contains it. No float ever enters the choice, so the corpus is
    bit-reproducible in any engine (the random_walks/g12 portability
    class, extended to weighted sampling). Step 1 has no prev and draws
    uniformly (the random_walks rule). Directed semantics throughout
    (the adjacency is the out-adjacency, like every kernel here); a walk
    ends early at a dangling vertex or when its candidate set's total
    weight is 0 (e.g. return_weight=0 with only the return edge left).

    Returns (walk_id BIGINT, step BIGINT, node BIGINT), walk_id =
    start * num_walks + replica.

    Scale shape: per step, the frontier joins its cur-adjacency (one row
    per candidate — sum deg(cur) rows, the inherent node2vec cost other
    systems pay as alias tables), marks prev-adjacency membership with
    one (prev, dst)-keyed join against the same pinned adjacency, then a
    per-walk window does the cumulative-weight pick. State stays
    O(#walks); every step materializes with lineage truncation.
    """
    for name, v in (
        ("return_weight", return_weight),
        ("in_weight", in_weight),
        ("out_weight", out_weight),
    ):
        if not isinstance(v, int) or v < 0:
            raise ValueError(f"{name} must be an integer >= 0, got {v!r}")
    if return_weight + in_weight + out_weight == 0:
        raise ValueError("at least one weight must be positive")
    if walk_length < 0:
        raise ValueError("walk_length must be >= 0")
    if num_walks < 1:
        raise ValueError("num_walks must be >= 1")
    spark = edges.sparkSession
    P = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))

    adj = checkpoint(
        edges.filter(F.col("src") != F.col("dst")).select("src", "dst").distinct(),
        P,
        "src",
    )
    deg = adj.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    w_idx = Window.partitionBy("src").orderBy("dst")
    adj_idx = checkpoint(
        adj.select("src", "dst", (F.row_number().over(w_idx) - 1).cast("long").alias("idx")),
        P,
        "src",
    )

    nodes = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    replicas = spark.range(num_walks).select(F.col("id").alias("rep"))
    start = nodes.crossJoin(replicas).select(
        (F.col("id") * num_walks + F.col("rep")).alias("walk_id"),
        F.col("id").alias("cur"),
    )
    out = start.select(
        "walk_id", F.lit(0).cast("long").alias("step"), F.col("cur").alias("node")
    )
    if walk_length == 0:
        return out

    # step 1: uniform (no prev yet) — the random_walks draw
    frontier = checkpoint(
        start.join(deg.withColumnRenamed("src", "cur"), "cur")
        .select(
            "walk_id",
            "cur",
            F.pmod(_hash_idx(F.col("cur"), 1, F.col("walk_id"), salt), F.col("deg")).alias("idx"),
        )
        .join(adj_idx.withColumnRenamed("src", "cur"), ["cur", "idx"])
        .select("walk_id", F.col("cur").alias("prev"), F.col("dst").alias("cur")),
        P,
        "cur",
    )
    out = out.union(
        frontier.select("walk_id", F.lit(1).cast("long").alias("step"), F.col("cur").alias("node"))
    )

    ww = Window.partitionBy("walk_id").orderBy("dst")
    wt = Window.partitionBy("walk_id")
    for step in range(2, walk_length + 1):
        cand = frontier.join(
            adj.select(F.col("src").alias("cur"), "dst"), "cur"
        )  # one row per out-neighbor of cur; dangling walks drop out
        cand = cand.join(
            adj.select(F.col("src").alias("prev"), F.col("dst").alias("dst"), F.lit(1).alias("_nb")),
            ["prev", "dst"],
            "left",
        ).select(
            "walk_id",
            "prev",
            "cur",
            "dst",
            F.when(F.col("dst") == F.col("prev"), F.lit(return_weight))
            .when(F.col("_nb").isNotNull(), F.lit(in_weight))
            .otherwise(F.lit(out_weight))
            .cast("long")
            .alias("w"),
        )
        picked = (
            cand.select(
                "walk_id",
                "prev",
                "cur",
                "dst",
                "w",
                F.sum("w").over(ww).alias("cw"),
                F.sum("w").over(wt).alias("tw"),
            )
            .filter(F.col("tw") > 0)
            .select(
                "walk_id",
                "cur",
                "dst",
                "cw",
                "w",
                F.pmod(
                    _hash_idx(F.col("cur"), step, F.col("walk_id"), salt), F.col("tw")
                ).alias("draw"),
            )
            .filter(
                (F.col("cw") - F.col("w") <= F.col("draw")) & (F.col("draw") < F.col("cw"))
            )
            .select("walk_id", F.col("cur").alias("prev"), F.col("dst").alias("cur"))
        )
        frontier = checkpoint(picked, P, "cur")
        out = out.union(
            frontier.select("walk_id", F.lit(step).cast("long").alias("step"), F.col("cur").alias("node"))
        )
        if step % 25 == 0:  # bound the output union's plan depth (bfs.py rule)
            out = checkpoint(out, P, "walk_id")

    return out.select("walk_id", "step", "node")
