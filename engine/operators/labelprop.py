"""Synchronous label propagation with deterministic min tie-break.

No reference implementation (SURVEY §7 Phase 3): per round, every node adopts
the most frequent label among its (undirected) neighbors, ties broken by the
minimum label; isolated nodes keep their own. Fully synchronous + min
tie-break ⇒ exactly reproducible (the BASELINE.json exact-match contract);
the oracle is tests/oracle.py:label_propagation_py.

Per round: one join (adjacency ⋈ labels) + one two-level aggregate
(count per (node,label), then max_by((count, -label))) + one changed-count.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, functions as F

from engine.operators._checkpoint import read_snapshot, resume_point, snapshot_state


def label_propagation(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    max_iter: int = 20,
    num_partitions: int | None = None,
    broadcast_labels: bool | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
    weight_col: str | None = None,
) -> DataFrame:
    """Returns (id BIGINT, label BIGINT) at convergence (or max_iter).

    weight_col: WEIGHTED synchronous LP — each neighbor votes with the
    summed edge weight on the (undirected) link instead of 1; parallel
    edges' weights add. Min-label tie-break unchanged. Integer weights
    keep the vote totals exact (the oracle-gated configuration); float
    weights work but ties at float precision are engine-local. The host
    graph's rolled-up link counts (graph.domain_graph) are the intended
    input.

    broadcast_labels: True → the (small) label vector is broadcast into the
    u-partitioned cached adjacency each round, so join + both grouped
    aggregates run in one exchange-free stage (hash(u) clusters every
    grouping key set) — same strategy as pagerank's broadcast gather.
    False → shuffle join on v. None → auto by node count.

    checkpoint_dir: iteration-stamped Parquet label snapshots + manifest
    (per-round changed-counts, per-partition lineage), resumed through
    _checkpoint.resume_point (synchronous rounds + min tie-break make the
    resumed trajectory identical).
    """
    from engine.operators.pagerank import BROADCAST_NODE_LIMIT

    spark = edges.sparkSession
    P = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))

    if nodes is None:
        nodes = (
            edges.select(F.col("src").alias("id"))
            .union(edges.select(F.col("dst").alias("id")))
            .distinct()
        )
    nodes = nodes.select("id").repartition(P, "id").persist()
    n = nodes.count()
    if broadcast_labels is None:
        broadcast_labels = n <= BROADCAST_NODE_LIMIT

    nonloop = edges.filter(F.col("src") != F.col("dst"))
    if weight_col is None:
        adj = (
            nonloop.select(F.col("src").alias("u"), F.col("dst").alias("v"))
            .union(nonloop.select(F.col("dst").alias("u"), F.col("src").alias("v")))
            .distinct()
            .withColumn("w", F.lit(1).cast("long"))
        )
    else:
        # undirected vote weight = summed weight over all parallel links
        adj = (
            nonloop.select(
                F.col("src").alias("u"), F.col("dst").alias("v"), F.col(weight_col).alias("w")
            )
            .union(
                nonloop.select(
                    F.col("dst").alias("u"), F.col("src").alias("v"), F.col(weight_col).alias("w")
                )
            )
            .groupBy("u", "v")
            .agg(F.sum("w").alias("w"))
        )
    adj = (
        adj
        # broadcast mode: partition by u so the per-round join + groupBy(u,…)
        # + groupBy(u) chain needs no exchange; shuffle mode: by the join key
        .repartition(P, "u" if broadcast_labels else "v")
        .persist()
    )
    adj_rows = adj.count()

    start_iter = 0
    round_metrics: list[dict] = []
    kernel = "labelprop" if weight_col is None else "labelprop_weighted"
    man = resume_point(checkpoint_dir, kernel, n=n, adj_rows=adj_rows)
    if man:
        start_iter = man["completed_iter"] + 1
        round_metrics = man.get("iterations", [])
        labels = (
            read_snapshot(spark, checkpoint_dir, man["completed_iter"])
            .repartition(P, "id")
            .localCheckpoint(eager=True)
        )
        if man.get("converged"):
            adj.unpersist()
            nodes.unpersist()
            return labels
    else:
        labels = nodes.select("id", F.col("id").alias("label")).persist()
        labels.count()

    it = start_iter - 1
    changed = -1
    for it in range(start_iter, max_iter):
        t0 = time.time()
        lbl_v = labels.withColumnRenamed("id", "v")
        if broadcast_labels:
            lbl_v = F.broadcast(lbl_v)
        nbr = adj.join(lbl_v, "v").select("u", "label", "w")
        counts = nbr.groupBy("u", "label").agg(F.sum("w").alias("cnt"))
        # most frequent, min label on ties: max over (cnt, -label)
        best = counts.groupBy("u").agg(
            F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("neg"))).alias("top")
        ).select(F.col("u").alias("id"), (-F.col("top.neg")).alias("new_label"))

        # ONE materialization per round: the eager localCheckpoint (which the
        # loop needs anyway for lineage truncation) doubles as the store the
        # changed-count reads; old_label rides along so no second pass is paid
        # for a separate projected checkpoint.
        new_labels = (
            nodes.join(best, "id", "left")
            .join(labels.withColumnRenamed("label", "old_label"), "id")
            .select("id", F.coalesce("new_label", "old_label").alias("label"), "old_label")
            .localCheckpoint(eager=True)
        )
        changed = new_labels.filter(F.col("label") != F.col("old_label")).count()
        labels.unpersist()  # frees the init cache; no-op on checkpointed frames
        labels = new_labels.select("id", "label")
        round_metrics.append(
            {"iter": it, "changed": changed, "wall_sec": round(time.time() - t0, 4)}
        )
        if checkpoint_dir and (
            changed == 0 or it == max_iter - 1 or it % checkpoint_every == checkpoint_every - 1
        ):
            snapshot_state(
                labels,
                checkpoint_dir,
                it,
                {
                    "kernel": kernel,
                    "n": n,
                    "adj_rows": adj_rows,
                    "converged": changed == 0,
                    "iterations": round_metrics,
                },
            )
        if changed == 0:
            break

    adj.unpersist()
    nodes.unpersist()
    return labels


def modularity(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Directed Newman modularity of a labeling:
    Q = intra/m − Σ_c (out_c · in_c)/m², where intra = edges whose
    endpoints share a label, out_c/in_c = total out-/in-stubs of
    community c (Newman 2004; Leicht & Newman 2008 directed form).
    Raw edges count with multiplicity (the engine's degree convention).

    Scores any (id, label) partition — LP, CC, or an external assignment.
    Plan: two dictionary joins to tag each edge with its endpoint labels
    (the PageRank gather shape), then one 1-row reduce plus two
    per-community partial aggs joined on label — all integer arithmetic
    until the final division, so the 6-dp result is engine-portable.

    Returns one row: (m BIGINT, intra_edges BIGINT, modularity DOUBLE).
    """
    lab = labels.select("id", "label")
    el = (
        edges.join(lab.select(F.col("id").alias("src"), F.col("label").alias("ls")), "src")
        .join(lab.select(F.col("id").alias("dst"), F.col("label").alias("ld")), "dst")
        .select("ls", "ld")
    )
    tot = el.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum(F.when(F.col("ls") == F.col("ld"), 1).otherwise(0))
        .cast("long")
        .alias("intra_edges"),
    )
    oc = el.groupBy(F.col("ls").alias("label")).agg(F.count(F.lit(1)).alias("oc"))
    ic = el.groupBy(F.col("ld").alias("label")).agg(F.count(F.lit(1)).alias("ic"))
    dp = (
        oc.join(ic, "label")
        .agg(F.sum(F.col("oc") * F.col("ic")).cast("long").alias("sprod"))
    )
    return tot.crossJoin(dp).select(
        "m",
        "intra_edges",
        F.round(
            F.col("intra_edges").cast("double") / F.col("m")
            - F.col("sprod").cast("double") / F.col("m") / F.col("m"),
            6,
        ).alias("modularity"),
    )
