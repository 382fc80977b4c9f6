"""SALSA (Lempel & Moran 2000) over the edge table.

The Stochastic Approach for Link-Structure Analysis — the fourth classic
link-analysis kernel on this engine's gather infrastructure, next to
PageRank (engine/operators/pagerank.py), HITS (hits.py) and Katz
(katz.py). No reference impl; standard published recurrence over the
simple directed graph.

SALSA runs two random walks on the bipartite hub/authority view of the
graph. With W the adjacency matrix, W_r the row-normalized form (each
row divided by out-degree) and W_c the column-normalized form (each
column divided by in-degree):

    authority chain:  a' = a · (W_cᵀ W_r)    — step BACK to a hub, then
                                                FORWARD to an authority
    hub chain:        h' = h · (W_r  W_cᵀ)   — step FORWARD, then BACK

Both transition matrices are row-stochastic on their support (every
authority has in-degree ≥ 1, every hub out-degree ≥ 1), so L1 mass is
conserved exactly — no per-step normalization, unlike HITS. At the
stationary point the authority mass inside each connected component is
proportional to in-degree (the famous SALSA degree result), which the
pytest gate asserts on a strongly connected graph.

Physical layout mirrors hits.py: each iteration is four gather joins
(two per chain) over a degree-weighted edge table that is deduped,
pre-weighted with 1/out_deg(src) and 1/in_deg(dst), hash-partitioned
and persisted once; the score vector is broadcast into the join while
the node count is broadcastable, else shuffle-gathered (with optional
salt-split skew handling), and lineage is truncated every iteration.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F


@dataclass
class SalsaResult:
    scores: DataFrame  # (id, hub, authority) — 0.0 outside a chain's support
    iterations: int
    converged: bool
    final_delta: float
    metrics: list[dict] = field(default_factory=list)


def salsa(
    edges: DataFrame,
    max_iter: int = 50,
    tol: float = 1e-8,
    num_partitions: int | None = None,
    broadcast_scores: bool | None = None,
    salt_buckets: int | None = None,
    check_every: int = 1,
) -> SalsaResult:
    """Returns (id, hub DOUBLE, authority DOUBLE) over src ∪ dst.

    Duplicate edges are collapsed (SALSA is defined on the simple graph).
    `authority` is the stationary mass of the authority chain (support:
    nodes with in-degree ≥ 1, init uniform over that support); `hub`
    likewise for the hub chain (support: out-degree ≥ 1). Nodes outside a
    chain's support carry 0.0 for that score. Each chain's scores sum to
    1 (L1 random-walk mass, conserved by the stochastic transition).

    broadcast_scores / salt_buckets / check_every: identical contract to
    hits.hits() — auto broadcast iff n ≤ pagerank.BROADCAST_NODE_LIMIT,
    explicit two-stage salted aggregation on the shuffle path, and a
    convergence-stats cadence that skips the driver round-trip on
    non-check iterations.
    """
    import time

    from engine.operators.hits import l1_delta
    from engine.operators.pagerank import BROADCAST_NODE_LIMIT

    spark = edges.sparkSession
    P = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))

    e0 = edges.select("src", "dst").distinct()
    outd = e0.groupBy("src").agg(F.count(F.lit(1)).alias("od"))
    ind = e0.groupBy("dst").agg(F.count(F.lit(1)).alias("idg"))
    # pre-weighted edge table: inv_out = 1/out_deg(src), inv_in = 1/in_deg(dst)
    e = (
        e0.join(outd, "src")
        .join(ind, "dst")
        .select(
            "src",
            "dst",
            (F.lit(1.0) / F.col("od")).alias("inv_out"),
            (F.lit(1.0) / F.col("idg")).alias("inv_in"),
        )
        .repartition(P, "dst")
        .persist()
    )
    e.count()

    n = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
        .count()
    )
    if broadcast_scores is None:
        broadcast_scores = n <= BROADCAST_NODE_LIMIT

    hubs = e.select(F.col("src").alias("id")).distinct().persist()
    auths = e.select(F.col("dst").alias("id")).distinct().persist()
    n_hub, n_auth = hubs.count(), auths.count()

    h = hubs.select("id", (F.lit(1.0) / F.lit(float(n_hub))).alias("s")).localCheckpoint(
        eager=True
    )
    a = auths.select("id", (F.lit(1.0) / F.lit(float(n_auth))).alias("s")).localCheckpoint(
        eager=True
    )

    def _gather(vec: DataFrame, key_in: str, key_out: str, w: str, support: DataFrame) -> DataFrame:
        """one stochastic half-step: out(key_out) = Σ_edges vec(key_in)·w,
        completed to the support universe with 0.0 (no renormalization —
        the transition is row-stochastic, mass is conserved)."""
        scores_in = vec.select(F.col("id").alias(key_in), "s")
        if broadcast_scores:
            raw = (
                e.join(F.broadcast(scores_in), key_in)
                .groupBy(key_out)
                .agg(F.sum(F.col("s") * F.col(w)).alias("raw"))
            )
        elif salt_buckets and salt_buckets > 1:
            partial = (
                e.join(scores_in, key_in)
                .groupBy(key_out, F.pmod(F.hash(key_in), F.lit(salt_buckets)).alias("_salt"))
                .agg(F.sum(F.col("s") * F.col(w)).alias("psum"))
            )
            raw = partial.groupBy(key_out).agg(F.sum("psum").alias("raw"))
        else:
            raw = (
                e.join(scores_in, key_in)
                .groupBy(key_out)
                .agg(F.sum(F.col("s") * F.col(w)).alias("raw"))
            )
        return support.join(raw.withColumnRenamed(key_out, "id"), "id", "left").select(
            "id", F.coalesce("raw", F.lit(0.0)).alias("s")
        )

    converged = False
    delta = float("inf")
    metrics: list[dict] = []
    it = -1
    for it in range(max_iter):
        t0 = time.time()
        # authority chain: back to hubs (weight 1/in_deg of the authority
        # being left), forward to authorities (weight 1/out_deg of the hub)
        t_hub = _gather(a, "dst", "src", "inv_in", hubs)
        a_new = _gather(t_hub, "src", "dst", "inv_out", auths).localCheckpoint(eager=True)
        # hub chain: forward to authorities, back to hubs
        t_auth = _gather(h, "src", "dst", "inv_out", auths)
        h_new = _gather(t_auth, "dst", "src", "inv_in", hubs).localCheckpoint(eager=True)
        m = {"iter": it}
        if (it + 1) % check_every == 0 or it == max_iter - 1:
            delta = l1_delta((h_new, h), (a_new, a))
            m["delta_l1"] = delta
        m["wall_sec"] = round(time.time() - t0, 4)
        metrics.append(m)
        h, a = h_new, a_new
        if "delta_l1" in m and delta < tol:
            converged = True
            break

    # hubs ∪ auths IS the node universe (every node has in- or out-degree
    # ≥ 1 by construction), so a full outer join completes both supports
    scores = (
        h.select("id", F.col("s").alias("hub"))
        .join(a.select("id", F.col("s").alias("authority")), "id", "full")
        .select(
            "id",
            F.coalesce("hub", F.lit(0.0)).alias("hub"),
            F.coalesce("authority", F.lit(0.0)).alias("authority"),
        )
    )
    for frame in (e, hubs, auths):
        frame.unpersist()
    return SalsaResult(
        scores=scores,
        iterations=it + 1,
        converged=converged,
        final_delta=delta,
        metrics=metrics,
    )
