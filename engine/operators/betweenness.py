"""Bounded-distance betweenness centrality (batched Brandes).

No reference implementation (beyond-reference graph operator; the last of
the standard centrality family next to pagerank/hits/katz/harmonic).
Brandes' algorithm ("A faster algorithm for betweenness centrality", 2001)
with the bounded-distance variant of Brandes & Pich ("Centrality
estimation in large networks", 2007): only source-target pairs with
d(s,t) ≤ max_h count, i.e.

    bc(v) = Σ_{s≠v} Σ_{t : 0 < d(s,t) ≤ max_h} σ_st(v)/σ_st

All sources advance TOGETHER as one DataFrame keyed by (s, v) — the
forward pass is max_h rounds of frontier ⋈ edges + anti-join + σ-sum
(exactly the BFS kernel shape, ×|S| sources), the backward pass is max_h
rounds of successor joins accumulating δ. Per round every row stays
JVM-side; the state is O(Σ_s |B(s, max_h)|) rows.

At 100 TB scale you don't run all sources: pass `sources` with a sampled
id set (Brandes-Pich pivot sampling — bc estimates scale by n/|S|). The
all-sources default is the VALIDATION path that the oracle-gated contract
query uses on the sparse bowtie subgraph.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from engine.operators._checkpoint import checkpoint


def betweenness_bounded(
    edges: DataFrame,
    max_h: int,
    sources: DataFrame | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """(id, bc DOUBLE): bounded-distance betweenness over the directed
    simple graph (duplicate edges and self-loops dropped — Brandes' σ
    counts distinct shortest paths). bc rounded to 6 dp (float policy:
    the δ cascade is float division, portable at 6 dp).

    sources: optional single-column (id) DataFrame restricting the source
    set (sampling path); None = every vertex (exact bounded variant)."""
    if max_h < 1:
        raise ValueError("max_h must be >= 1")
    spark = edges.sparkSession
    P = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    e = checkpoint(
        edges.filter(F.col("src") != F.col("dst")).select("src", "dst").distinct(),
        P,
        "src",
    )
    nodes = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    srcs = nodes if sources is None else sources.select("id")

    # forward: levels[d] = (s, v, sig) with d(s,v) = d exactly and
    # sig = σ_sv (number of shortest s→v paths)
    levels: list[DataFrame] = [
        checkpoint(
            srcs.select(
                F.col("id").alias("s"), F.col("id").alias("v"),
                F.lit(1).cast("long").alias("sig"),
            ),
            P,
            "v",
        )
    ]
    seen = levels[0]  # (s, v, sig) — anti-join key is (s, v)
    for _d in range(1, max_h + 1):
        grown = (
            levels[-1]
            .join(e.select(F.col("src").alias("v"), "dst"), "v")
            .select("s", F.col("dst").alias("nv"), "sig")
            .join(
                seen.select("s", F.col("v").alias("nv")), ["s", "nv"], "left_anti"
            )
            .groupBy("s", F.col("nv").alias("v"))
            .agg(F.sum("sig").alias("sig"))
        )
        lvl = checkpoint(grown, P, "v")
        levels.append(lvl)
        seen = checkpoint(seen.union(lvl), P, "v")

    # backward: δ at the horizon is 0; for d = max_h-1 .. 1,
    # δ_d(s,v) = Σ_{v→w, d(s,w)=d+1} σ(v)/σ(w) · (1 + δ_{d+1}(s,w))
    delta = levels[max_h].select("s", "v", F.lit(0.0).alias("delta"))
    acc = None
    # level-max_h nodes carry δ=0 → contribute nothing; start accumulating
    # from max_h-1 down to 1 (level 0 is the source itself — excluded)
    for d in range(max_h - 1, 0, -1):
        succ = (
            levels[d + 1]
            .join(delta, ["s", "v"])
            .select("s", F.col("v").alias("w"), F.col("sig").alias("wsig"), "delta")
            .join(e.select(F.col("src").alias("pv"), F.col("dst").alias("w")), "w")
        )
        contrib = succ.groupBy("s", F.col("pv").alias("v")).agg(
            F.sum((F.lit(1.0) + F.col("delta")) / F.col("wsig")).alias("_part")
        )
        delta = checkpoint(
            levels[d]
            .join(contrib, ["s", "v"], "left")
            .select(
                "s",
                "v",
                (F.coalesce(F.col("_part"), F.lit(0.0)) * F.col("sig")).alias("delta"),
            ),
            P,
            "v",
        )
        lvl_acc = delta.groupBy("v").agg(F.sum("delta").alias("bc"))
        acc = lvl_acc if acc is None else acc.union(lvl_acc)

    if acc is None:  # max_h == 1: no interior vertices possible
        return nodes.select("id", F.lit(0.0).alias("bc"))
    bc = acc.groupBy(F.col("v").alias("id")).agg(F.sum("bc").alias("bc"))
    return nodes.join(bc, "id", "left").select(
        "id", F.round(F.coalesce("bc", F.lit(0.0)), 6).alias("bc")
    )
