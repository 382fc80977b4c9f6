"""SimRank structural similarity over the directed link graph.

No reference counterpart (beyond-reference link-graph op): SimRank
(Jeh & Widom, KDD 2002) — "two pages are similar if they are linked to
by similar pages":

    s(a,a) = 1
    s(a,b) = C / (|I(a)|·|I(b)|) · Σ_{i∈I(a)} Σ_{j∈I(b)} s(i,j)   (a ≠ b)

over the DISTINCT in-neighbor sets I(·) of the simple graph (self-loops
dropped); s(a,b) = 0 when either in-neighborhood is empty. Computed by
the paper's truncated fixed-point iteration from s₀ = I. Iteration k
supports exactly the pairs co-reachable by equal-length backward paths
of length ≤ k, so the off-diagonal table stays sparse and grows one join
ring per round — the scalable form of an otherwise O(n²) measure.

Spark shape — each round is TWO aggregates keyed by the unordered
endpoint pair:

- the DIAGONAL contribution Σ_{i∈I(a)∩I(b)} s(i,i)=1 is the co-citation
  wedge count (cocitation.py's kernel). It is iteration-INVARIANT, so it
  is computed once, pinned, and reused every round instead of being
  re-enumerated.
- the OFF-DIAGONAL contribution Σ s_k(i,j) for i≠j is a two-hop join
  out(i) ⨝ s_k(i,j) ⨝ out(j): each stored similarity pair fans out to
  the out-neighborhoods of its endpoints.

Both kernels share the wedge-enumeration skew surface of linkpred.py /
cocitation.py: a single deg-10⁶ web hub would emit 5·10¹¹ wedges. The
standard mitigation is the same disclosed cap (`max_fanout`): vertices
whose out-fan over the distinct simple graph exceeds it are excluded
from the PIVOT role (they still receive scores through lower-degree
pivots), and `metrics={}` receives the capped-pivot count and the
dropped diagonal wedge mass — the repo-wide "no silent caps" rule.
`min_sim` additionally prunes the carried state between rounds (pairs
below it drop; disclosed via metrics), which is what bounds state growth
at web scale where the ring-k support would otherwise approach all-pairs.

Iterative hygiene: every round's state is localCheckpoint(eager=True)-ed
(plan-growth rule, see bfs.py/katz.py) and repartitioned on the join key
feeding the next round.

Cross-engine float policy (the linkpred.py technique): per-pair scores
are rounded to 9 dp after the single IEEE division, the next round sums
them as exact DECIMAL(28,9) (associative — no float-sum order), and
callers round the final column to 6 dp. Bit-identical between Spark and
any engine with IEEE doubles + decimal sums (DuckDB oracle-gated as
g39_simrank_2iter).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from engine.operators._checkpoint import checkpoint
from engine.operators._pins import pin


def simrank(
    edges: DataFrame,
    c: float = 0.8,
    iterations: int = 2,
    max_fanout: int | None = None,
    min_sim: float = 0.0,
    metrics: dict | None = None,
) -> DataFrame:
    """Off-diagonal SimRank pairs (a BIGINT, b BIGINT, s DOUBLE) with
    a < b after `iterations` truncated fixed-point rounds (the diagonal
    is identically 1 and not emitted). s is quantized to 9 dp per round
    (see module float policy); round to 6 dp for oracle gating.

    max_fanout: exclude vertices with distinct out-fan above it from the
    pivot role in both kernels (disclosed via metrics). min_sim: drop
    carried pairs below it between rounds (disclosed via metrics)."""
    if not 0.0 < c < 1.0:
        raise ValueError(f"decay C must be in (0, 1), got {c}")
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    spark = edges.sparkSession
    P = int(spark.conf.get("spark.sql.shuffle.partitions"))

    # i ∈ I(x): distinct in-neighbor pairs over the simple graph. Feeds
    # the in-degree agg, the diagonal wedge (twice), and both legs of
    # every round's off-diagonal join — pin it (release via pin_scope).
    ie = pin(
        checkpoint(
            edges.filter(F.col("src") != F.col("dst"))
            .select(F.col("dst").alias("x"), F.col("src").alias("i"))
            .distinct(),
            P,
            "i",
        )
    )

    # |I(x)| over the FULL (uncapped) graph — the published denominator
    # even when the pivot role is capped (cocitation.py convention).
    ind = pin(ie.groupBy("x").agg(F.count(F.lit(1)).cast("double").alias("d")))

    legs = ie
    if max_fanout is not None:
        fan = ie.groupBy("i").agg(F.count(F.lit(1)).alias("fan"))
        if metrics is not None:
            capped = (
                fan.filter(F.col("fan") > max_fanout)
                .agg(
                    F.count(F.lit(1)).alias("capped"),
                    F.coalesce(
                        F.sum(F.col("fan") * (F.col("fan") - 1) / F.lit(2)),
                        F.lit(0.0),
                    )
                    .cast("long")
                    .alias("dropped"),
                )
                .collect()[0]
            )
            metrics["simrank_pivots_capped"] = int(capped["capped"])
            metrics["simrank_diag_wedges_dropped"] = int(capped["dropped"])
        legs = pin(ie.join(fan.filter(F.col("fan") <= max_fanout).select("i"), "i"))

    # Iteration-invariant diagonal contribution: common-in-neighbor count
    # per unordered pair (each shared i contributes s(i,i) = 1).
    la = legs.select("i", F.col("x").alias("a"))
    lb = legs.select("i", F.col("x").alias("b"))
    diag = pin(
        la.join(lb, "i")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("decimal(28,9)").alias("m"))
    )

    da = ind.select(F.col("x").alias("a"), F.col("d").alias("da"))
    db = ind.select(F.col("x").alias("b"), F.col("d").alias("db"))

    def _score(contrib: DataFrame) -> DataFrame:
        # one correctly-rounded double division per pair, then 9 dp
        return (
            contrib.join(da, "a")
            .join(db, "b")
            .select(
                "a",
                "b",
                F.round(
                    F.lit(c) * F.col("m").cast("double") / (F.col("da") * F.col("db")),
                    9,
                ).alias("s"),
            )
        )

    s = checkpoint(_score(diag), P, "a")  # round 1: s₀ off-diagonal is empty
    for _ in range(iterations - 1):
        if min_sim > 0.0:
            kept = s.filter(F.col("s") >= min_sim)
            if metrics is not None:
                metrics["simrank_pairs_pruned"] = metrics.get(
                    "simrank_pairs_pruned", 0
                ) + (s.count() - kept.count())
            s = kept
        # both orders of the symmetric off-diagonal table, so the two-hop
        # join enumerates ordered (i,j) ∈ I(a)×I(b) exactly once each
        s_sym = s.select(F.col("a").alias("p"), F.col("b").alias("q"), "s").unionAll(
            s.select(F.col("b").alias("p"), F.col("a").alias("q"), "s")
        )
        off = (
            legs.select(F.col("i").alias("p"), F.col("x").alias("a"))
            .join(s_sym, "p")
            .join(legs.select(F.col("i").alias("q"), F.col("x").alias("b")), "q")
            .filter(F.col("a") < F.col("b"))
            .groupBy("a", "b")
            .agg(F.sum(F.col("s").cast("decimal(28,9)")).alias("m"))
        )
        contrib = (
            off.unionAll(diag)
            .groupBy("a", "b")
            .agg(F.sum("m").cast("decimal(28,9)").alias("m"))
        )
        s = checkpoint(_score(contrib), P, "a")
    return s
