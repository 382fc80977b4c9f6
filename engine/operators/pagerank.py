"""Damped power-iteration PageRank as an iterative DataFrame dataflow.

Semantics are pinned to the reference recurrence (pagerank_gpu.cu:137-191):

  per iteration (r = current ranks, n = |nodes|, alpha = damping):
    1. dangling_mass = Σ r[i] over outdeg(i)==0            (cu:149-154)
    2. r_new[i] = alpha*(Σ_{j→i} r[j]/outdeg(j) + dangling_mass/n)
                  + (1-alpha)/n                            (cu:156-166)
    3. delta = Σ |r_new - r|; stop when delta < tol        (cu:169-180)
  after loop: r /= Σ r                                     (cu:183-189)

Physical design (Spark-first, NOT a CSR port):
- `adj(src, dst, w=1/outdeg)` replaces the CSR transition matrix; built once,
  hash-partitioned on the join key and persisted (the reference's
  precompute-1/outdeg-outside-the-loop, cu:122-129). It also holds one self
  row per node (w NULL, plus the node's dangling flag and teleport weight),
  so the gather's sum by dst also carries each node's old rank and flags.
- the SpMV gather (cu:197-217) = adj ⋈ ranks on src, then sum by dst. The
  broadcast gather partitions adj by dst and broadcasts r into it: a round
  is one exchange-free stage. The shuffle gather partitions adj by src and
  keeps r hash-partitioned by id in the same P partitions, so the join is a
  sort-merge join that moves neither side and the only shuffle is the one
  by dst: a round is one Spark job. With `salt_buckets=S` the aggregation
  is an explicit two-stage skew split: partial sums on
  (dst, pmod(hash(src),S)) then final sum on dst — hub vertices with huge
  in-degree never serialize into one reducer.
- dangling is a rank-1 scalar correction (cu:102,125: dangling rows never
  enter the matrix), NOT materialized edges.
- convergence + next iteration's dangling mass + Σrank are observed
  (DataFrame.observe) on the job that materializes r_new, which carries the
  old rank beside the new one; the reference makes three separate sweeps
  (cu:149-174). The observed dangling mass enters the next update as a
  literal, so a round runs no aggregate job of its own.
- each round's r_new is materialized by an eager localCheckpoint (the
  double-buffer swap, cu:175/307), which truncates the lineage every round.
  With a checkpoint_dir, every `checkpoint_every`-th round and the last
  also write an iteration-stamped Parquet snapshot + a JSON manifest with
  per-iteration metrics (resumable: a rerun with the same graph, alpha,
  weight column and teleport weights picks up from the last snapshot).
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F


@dataclass
class PageRankResult:
    ranks: DataFrame  # (id BIGINT, rank DOUBLE), normalized to Σ=1
    iterations: int
    converged: bool
    final_delta: float
    num_nodes: int
    num_edges: int
    metrics: list[dict] = field(default_factory=list)  # per-iteration


def _shuffle_totals(spark) -> dict | None:
    """Cumulative shuffle bytes from the UI REST API (local and cluster mode
    both expose it); None when the UI is disabled or does not answer."""
    import urllib.request

    ui = spark.sparkContext.uiWebUrl
    if not ui:
        return None
    app_id = spark.sparkContext.applicationId
    try:
        with urllib.request.urlopen(f"{ui}/api/v1/applications/{app_id}/stages", timeout=2) as r:
            stages = json.loads(r.read())
    except (OSError, ValueError):
        return None
    return {
        "shuffle_read_bytes": sum(s.get("shuffleReadBytes", 0) for s in stages),
        "shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in stages),
    }


def _dangling_mass():
    return F.sum(F.when(F.col("is_dangling"), F.col("rank")).otherwise(0.0)).alias("dm")


from engine.operators._checkpoint import checkpoint_observed
from engine.operators._checkpoint import read_snapshot as _read_snapshot
from engine.operators._checkpoint import resume_point as _resume_point
from engine.operators._checkpoint import snapshot_state as _snapshot_state


BROADCAST_NODE_LIMIT = 4_000_000  # ranks table ≈ 16 B/row → ≤ ~64 MB broadcast


def _estimate_rows(df: DataFrame, bytes_per_row: int = 16) -> int:
    """Row-count estimate from Catalyst's optimized-plan statistics (derived
    from input file sizes / injected stats) — runs NO job. Returns the
    explicit rowCount when the plan carries one; otherwise sizeInBytes /
    bytes_per_row. Falls back to 0 (→ caller's minimum) when statistics are
    the unknown-size sentinel (defaultSizeInBytes ~ 8 EB)."""
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        rc = stats.rowCount()
        if rc.isDefined():
            return int(str(rc.get()))
        size = int(str(stats.sizeInBytes()))
        if 0 < size < (1 << 50):
            return size // bytes_per_row
    except Exception:
        pass
    return 0


def pagerank(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    alpha: float = 0.85,
    tol: float = 1e-8,
    max_iter: int = 100,
    salt_buckets: int | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
    num_partitions: int | None = None,
    broadcast_ranks: bool | None = None,
    personalization: DataFrame | None = None,
    weight_col: str | None = None,
    init_ranks: DataFrame | None = None,
) -> PageRankResult:
    """Run PageRank over an edge table (src BIGINT, dst BIGINT).

    nodes: optional single-column (id) node universe. Default: 0..max(src,dst)
    — the reference's dense-id convention (pagerank_gpu.cu:64-65), where ids
    absent from the edge file still exist and are dangling.
    Duplicate edges count with multiplicity (the reference never dedupes in
    load_graph; outdeg and the matrix both see every occurrence).
    Defaults alpha/tol/max_iter match pagerank_gpu.cu:367-370.

    broadcast_ranks: gather strategy. True → adj is hash-partitioned on dst
    ONCE and the (small) rank vector is broadcast each iteration, so the
    join + partial agg + final agg all run in a single exchange-free stage
    over the cached adjacency — no per-iteration multi-MB shuffle at all.
    False → shuffle gather, the path for node counts too big to broadcast:
    adj is hash-partitioned on src and the rank vector is kept
    hash-partitioned on id in the same partitions, so adj ⋈ ranks moves
    neither side and a round is one Spark job with one shuffle (by dst);
    combine with salt_buckets for hub skew (a second shuffle in the same
    job). None (default) → auto: broadcast iff n ≤ BROADCAST_NODE_LIMIT.
    Both strategies compute the identical recurrence (float sum order may
    differ at the last ulp).

    weight_col: optional edge-weight column on `edges` (weighted PageRank —
    anchor-text/link-frequency weighting): each edge contributes
    rank(src)·w/Σw(src) instead of rank(src)/outdeg(src). Weights must be
    ≥ 0; zero-weight edges are dropped, and a source whose weights are ALL
    zero is dangling (exactly like a source with no out-edges). Costs one
    extra O(m) validation pass at build time (never per-iteration); the
    default None keeps the reference's unweighted recurrence bit-identical.

    init_ranks: optional (id, rank) seed vector for incremental re-ranking —
    warm-start this snapshot's run from the previous snapshot's converged
    vector (compose with snapshots.snapshot_diff for the monthly-crawl
    delta workflow). New ids get uniform mass, vanished ids drop, and the
    seed is renormalized to Σ=1, so the fixpoint and convergence criterion
    are identical to a cold run — only the iteration count shrinks (the
    power method starts near the dominant eigenvector). Precedence: a
    checkpoint_dir resume snapshot wins over init_ranks, which wins over
    the personalization/uniform default.

    personalization: optional (id, weight) teleport distribution (normalized
    to Σ=1 internally; missing ids get weight 0). Standard personalized
    PageRank: r_new[i] = α·(gather_i + dm·p_i) + (1−α)·p_i, init r = p —
    dangling mass redistributes along p, not uniformly. None (default)
    preserves the reference's uniform recurrence with the exact same scalar
    expressions (bit-identical to previous behavior).
    """
    spark = edges.sparkSession
    sc = spark.sparkContext
    conf_p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if num_partitions:
        P = num_partitions
    else:
        # size the per-iteration shuffle to the graph: ~250k edge rows per
        # partition, clamped to the session default. Tiny graphs then run a
        # handful of tasks per stage instead of paying conf_p scheduling
        # overhead x iterations; at cluster scale callers pass num_partitions
        # (or the session default, ~2-3x total cores, wins). The estimate
        # comes from Catalyst's optimizer statistics (file sizes for scans —
        # NO job, no extra full pass over a 100 TB table), not a count().
        # When statistics are unusable (unknown-size sentinel, join-derived
        # plans) the estimate is 0: fall back to the session default rather
        # than collapsing a possibly-huge derived edge table to 2 partitions.
        est = _estimate_rows(edges, bytes_per_row=16)
        P = conf_p if est <= 0 else max(2, min(conf_p, (est // 250_000) + 1))

    if nodes is None:
        mx = edges.agg(
            F.greatest(F.max("src"), F.max("dst")).alias("mx")
        ).collect()[0]["mx"]
        if mx is None:
            raise ValueError("empty edge table")
        nodes = spark.range(0, int(mx) + 1).select(F.col("id"))

    # ---- one-time graph prep (outside the loop, like build_P cu:85-133) ----
    if broadcast_ranks is None:
        # decide before building adj: broadcast path wants dst-partitioning
        n_probe = nodes.count()
        broadcast_ranks = n_probe <= BROADCAST_NODE_LIMIT
    if weight_col is None:
        contrib_edges = edges
        out_deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        edge_w = F.lit(1.0) / F.col("deg")
    else:
        wc = F.col(weight_col).cast("double")
        bad = edges.filter(wc < 0).limit(1).count()
        if bad:
            raise ValueError(f"negative values in weight column {weight_col!r}")
        contrib_edges = edges.filter(wc > 0)
        out_deg = contrib_edges.groupBy("src").agg(F.sum(wc).alias("deg"))
        edge_w = wc / F.col("deg")
    node_info = nodes.select("id").join(
        out_deg.select(F.col("src").alias("id"), "deg"), "id", "left"
    ).select("id", F.col("deg").isNull().alias("is_dangling"))
    if personalization is not None:
        pid, pweight = personalization.columns[:2]
        # the digest identifies the teleport weights for the resume guard
        ptotal, pdigest = personalization.agg(
            F.sum(pweight).alias("t"),
            F.sum(F.xxhash64(pid, pweight).cast("decimal(20,0)")).alias("digest"),
        ).collect()[0]
        if not ptotal or ptotal <= 0:
            raise ValueError("personalization weights must sum to > 0")
        pw = personalization.select(
            F.col(pid).alias("id"),
            (F.col(pweight) / F.lit(float(ptotal))).alias("pw"),
        )
        # ids absent from the node universe would silently shrink the
        # effective teleport vector below 1 (masked only by the final
        # renormalization) — surface the typo instead
        missing = pw.join(nodes.select("id"), "id", "left_anti").count()
        if missing:
            raise ValueError(
                f"{missing} personalization id(s) are not in the node universe"
            )
        node_info = node_info.join(pw, "id", "left").select(
            "id", "is_dangling", F.coalesce("pw", F.lit(0.0)).alias("pw")
        )
    node_info = node_info.repartition(P, "id").persist()
    n = node_info.count()
    attrs = node_info.columns[1:]  # is_dangling[, pw]

    # adj carries one self row per node (src = dst = id, w NULL) with the
    # node attributes, so a round's single gather aggregate by dst also
    # yields every node's old rank and attributes: one join with r per round
    # and no node_info join
    edge_rows = contrib_edges.join(out_deg, "src").select("src", "dst", edge_w.alias("w"))
    self_rows = node_info.select(
        F.col("id").alias("src"),
        F.col("id").alias("dst"),
        F.lit(None).cast("double").alias("w"),
        *attrs,
    )
    adj = (
        edge_rows.unionByName(self_rows, allowMissingColumns=True)
        # broadcast gather: partition by dst so join→partial-agg→final-agg is
        # one exchange-free stage; shuffle gather: partition by src, the
        # partitioning r is kept in, so neither side shuffles into the join
        .repartition(P, "dst" if broadcast_ranks else "src")
        # one-time clustering by the per-iteration probe/join key, paid at
        # build and amortized over every iteration: broadcast path — rows
        # with equal src are adjacent, so the hashed-relation probe hits the
        # same entry ~avg-outdeg times in a row (cache-resident) instead of
        # a random DRAM-latency miss per edge; shuffle path — the cached
        # relation carries outputOrdering(src), so a sort-merge gather join
        # reuses it instead of re-sorting the edge side every iteration
        .sortWithinPartitions("src")
        .persist()
    )
    num_edges = adj.count() - n  # materialize
    teleport = (1.0 - alpha) / n

    # ---- init / resume ----
    # r, the state, is (id, rank); the node attributes stay in node_info and
    # adj's self rows. Every materialization of r observes the dangling mass
    # the next round needs, so no round runs an aggregate job for it. On the
    # shuffle gather r is kept in adj's partitioning, hash(id, P), so the
    # gather join reads both sides in place.
    state_key = None if broadcast_ranks else "id"

    def materialize(df, *aggs):
        return checkpoint_observed(df, P, state_key, observe=aggs, columns=("id", "rank"))

    start_iter = 0
    metrics: list[dict] = []
    r = None
    identity = dict(
        n=n,
        m=num_edges,
        alpha=alpha,
        weight_col=weight_col,
        personalization=None if personalization is None else str(pdigest),
    )
    man = _resume_point(checkpoint_dir, "pagerank", **identity)
    if man:
        start_iter = man["completed_iter"] + 1
        metrics = man["iterations"]
        r = _read_snapshot(spark, checkpoint_dir, man["completed_iter"]).join(node_info, "id")
    if r is None and init_ranks is not None:
        # warm start (incremental re-rank over a snapshot delta): seed from a
        # prior run's vector. Ids absent from init_ranks (pages new in this
        # snapshot) get the uniform mass; the seeded vector is then
        # renormalized to Σ=1 with a lazy 1-row broadcast aggregate (the
        # recurrence preserves Σ=1 from there, so the convergence criterion
        # and fixpoint are identical to a cold run — only the iteration
        # count changes). Vanished ids drop out via the inner node join.
        seeded = node_info.join(
            init_ranks.select("id", F.col("rank").alias("_r0")), "id", "left"
        ).select(
            "id",
            F.coalesce(F.col("_r0"), F.lit(1.0 / n)).alias("rank"),
            "is_dangling",
        )
        tot = seeded.agg(F.sum("rank").alias("_t"))
        r = (
            seeded.join(F.broadcast(tot))
            .select("id", (F.col("rank") / F.col("_t")).alias("rank"), "is_dangling")
        )
    if r is None:
        init_rank = F.col("pw") if personalization is not None else F.lit(1.0 / n)
        r = node_info.select("id", init_rank.alias("rank"), "is_dangling")
    r, seed_stats = materialize(r, _dangling_mass())
    dm = seed_stats["dm"]

    converged = False
    delta = float("inf")
    total = None  # Σrank of r, observed by the last round
    it = start_iter - 1
    base_shuffle = _shuffle_totals(spark)

    # Each round is one dataflow materialized by one localCheckpoint, and the
    # convergence stats (L1 delta, next round's dangling mass, Σrank) are
    # observed on that same job; the reference makes three separate sweeps
    # (cu:149-174). The old rank and the node attributes come out of the
    # same gather aggregate, from adj's self rows, so r is joined once. The
    # broadcast gather costs two jobs per round: the rank broadcast and the
    # checkpoint. The shuffle gather costs one. Its checkpoint job runs
    # without AQE and with P shuffle partitions (checkpoint_observed), so
    # the gather aggregate already lands in hash(id, P), the checkpoint's
    # repartition by id plans no exchange, and r scans as hash(id, P): adj's
    # partitioning. The merge-hinted join then plans no exchange and no
    # broadcast, and the dst shuffle (two when salted) runs inside the
    # checkpoint job. A plain localCheckpoint scans as UnknownPartitioning(0)
    # under AQE, and its small size estimate would plan a broadcast of r, a
    # job of its own. Joining r a second time by id for the old rank would
    # square r's Catalyst size estimate each round, which the checkpoint
    # carries into the next round's plan, until planning stalls on
    # BigInteger products.
    def combine(df, *keys):
        # each id group holds exactly one self row, so max() picks its values
        return df.groupBy(*keys).agg(
            F.sum("gathered").alias("gathered"),
            *[F.max(c).alias(c) for c in ("old", *attrs)],
        )

    for it in range(start_iter, max_iter):
        t0 = time.time()
        # broadcast gather: broadcast-hash-join the rank vector into the
        # dst-partitioned cached adjacency; the groupBy(dst) partial and
        # final aggregates are satisfied by adj's existing hash partitioning,
        # so the whole round is ONE stage, no shuffle files. Shuffle gather:
        # r and adj sit in the same hash partitioning, so the sort-merge
        # join reads both in place and only the contributions shuffle, by
        # dst.
        rows = adj.join(
            F.broadcast(r) if broadcast_ranks else r.hint("merge"),
            F.col("src") == F.col("id"),
        ).select(
            "src",
            F.col("dst").alias("id"),
            (F.col("rank") * F.col("w")).alias("gathered"),
            F.when(F.col("w").isNull(), F.col("rank")).alias("old"),
            *attrs,
        )

        if salt_buckets and salt_buckets > 1 and not broadcast_ranks:
            # explicit skew split: partial agg on (dst, salt(src)) bounds any
            # single reduce task to ~in_deg/S rows for hub destinations
            rows = combine(rows, "id", F.pmod(F.hash("src"), F.lit(salt_buckets)))
        # a group without a self row is a dst outside the node universe
        step = combine(rows, "id").filter(F.col("old").isNotNull())

        if personalization is not None:
            # PPR: dangling mass and teleport both follow the p vector
            update_expr = (
                F.lit(alpha)
                * (F.coalesce(F.col("gathered"), F.lit(0.0)) + F.lit(dm) * F.col("pw"))
                + F.lit(1.0 - alpha) * F.col("pw")
            )
        else:
            update_expr = (
                F.lit(alpha)
                * (
                    F.coalesce(F.col("gathered"), F.lit(0.0))
                    + F.lit(dm) / F.lit(float(n))
                )
                + F.lit(teleport)
            )
        step = step.select("id", "is_dangling", "old", update_expr.alias("rank"))
        # truncate lineage EVERY iteration: without this the logical plan
        # grows linearly and Catalyst re-analysis becomes the per-iteration
        # bottleneck (driver-side, superlinear). localCheckpoint materializes
        # r_new to executor block storage and replaces the plan with a
        # LogicalRDD — the double-buffer swap of pagerank_gpu.cu:175/307.
        r_new, stats = materialize(
            step,
            F.sum(F.abs(F.col("rank") - F.col("old"))).alias("delta"),
            _dangling_mass(),
            F.sum("rank").alias("total"),
        )
        delta, dm, total = float(stats["delta"]), float(stats["dm"]), float(stats["total"])
        m = {
            "iter": it,
            "delta_l1": delta,
            "dangling_mass": dm,
            "sum_rank": total,
            "wall_sec": round(time.time() - t0, 4),
        }
        metrics.append(m)

        r.unpersist()
        r = r_new

        # lineage truncation + resumable snapshot. Shuffle-byte polling (UI
        # REST) happens only here — once per checkpoint window, not per
        # iteration: the stage list grows with the run and per-iteration
        # polling becomes a driver-side bottleneck on long runs.
        last_round = delta < tol or it == max_iter - 1
        if last_round or it % checkpoint_every == checkpoint_every - 1:
            cur_shuffle = _shuffle_totals(spark)
            if cur_shuffle is None or base_shuffle is None:
                m["shuffle_stats"] = "unavailable"
            else:
                for k in ("shuffle_read_bytes", "shuffle_write_bytes"):
                    m[k] = cur_shuffle[k] - base_shuffle[k]
            base_shuffle = cur_shuffle
        if checkpoint_dir and (it % checkpoint_every == checkpoint_every - 1 or last_round):
            snap = _snapshot_state(
                r,
                checkpoint_dir,
                it,
                {
                    "kernel": "pagerank",
                    **identity,
                    "tol": tol,
                    "dangling_mass": dm,
                    "iterations": metrics,
                },
            )
            # the reloaded ranks are bit-identical, so dm still holds
            r, _ = materialize(spark.read.parquet(snap))
        if delta < tol:
            converged = True
            break

    # final normalization (cu:183-189)
    if total is None:
        total = r.agg(F.sum("rank")).collect()[0][0]
    ranks = r.select("id", (F.col("rank") / F.lit(total)).alias("rank"))

    adj.unpersist()
    node_info.unpersist()
    return PageRankResult(
        ranks=ranks,
        iterations=it + 1 if it >= 0 else 0,
        converged=converged,
        final_delta=delta,
        num_nodes=n,
        num_edges=num_edges,
        metrics=metrics,
    )


def top_k(ranks: DataFrame, k: int = 10) -> DataFrame:
    """Top-k by rank desc (pagerank_gpu.cu:429-442). Spark plans this as
    TakeOrderedAndProject — per-partition partial top-k, no full sort."""
    return ranks.orderBy(F.desc("rank"), F.asc("id")).limit(k)
