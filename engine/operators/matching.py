"""Greedy maximal matching over the link graph — local-dominant edges.

The distributed matching primitive (Hoepman 2004 / Israeli–Itai 1986,
the edge-wise sibling of Luby MIS): per round, every live edge draws a
priority; an edge joins the matching when its priority beats every other
live edge sharing an endpoint (it is the LOCAL MINIMUM at both ends),
then both endpoints — and every edge touching them — leave the live set.
Expected O(log n) rounds. Maximal matching is the pairing/scheduling
primitive for conflict-free work batches (e.g. pairing mirror hosts for
co-crawl, merging near-duplicate clusters two at a time), and a 2-approx
to maximum matching.

Determinism: the priority is the mis.py content hash on the unordered
edge —

    p({a,b}, round) = md5(a || '|' || b || '|' || round || '|' || salt)
                      || '|' || a || '|' || b          (a < b)

compared lexicographically: uniform draw + appended ids = total order,
engine-portable (the DuckDB oracle replays the identical strings).
Selections cannot conflict: two adjacent selected edges would both be
the strict minimum at the shared vertex — the same edge.

Semantics: defined on the simple undirected graph (direction ignored,
duplicates collapsed, self-loops dropped — the mis.py convention), edges
kept as unordered pairs a < b. Vertices only incident to self-loops have
no matchable edge and never appear.

Physical shape per round: one explode + min-aggregate keyed by vertex
(the PageRank gather shape) + one equality join back to the edges + two
anti-joins; the live edge set shrinks geometrically and is
re-materialized with lineage truncation each round.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, functions as F

from engine.operators._checkpoint import checkpoint


def _edge_priority(a, b, rnd: int, salt: str):
    h = F.md5(
        F.concat_ws(
            "|", a.cast("string"), b.cast("string"), F.lit(str(rnd)), F.lit(salt)
        )
    )
    return F.concat_ws("|", h, a.cast("string"), b.cast("string"))


def maximal_matching(
    edges: DataFrame,
    max_rounds: int = 100,
    fixed_rounds: int | None = None,
    salt: str = "match",
    num_partitions: int | None = None,
    metrics: list | None = None,
) -> DataFrame:
    """Local-dominant-edge maximal matching.

    Returns (a BIGINT, b BIGINT, round INT): the matched unordered pairs
    (a < b) and the round each was selected. Default mode runs to
    fixpoint (no live edge remains — every remaining edge has a matched
    endpoint, i.e. the matching is maximal; raises if max_rounds is
    exhausted first). fixed_rounds=R pins exactly R rounds — the
    unrolled-SQL oracle variant (the i1b/g31 technique); edges still
    live after R rounds are simply absent from the output.
    metrics: one dict per round (selected, live_after, wall) when given.
    """
    if fixed_rounds is not None and fixed_rounds < 1:
        raise ValueError("fixed_rounds must be >= 1")
    spark = edges.sparkSession
    P = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))

    live = checkpoint(
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct(),
        P,
        "a",
    )
    matched = None  # (a, b, round) accumulator

    rounds = fixed_rounds if fixed_rounds is not None else max_rounds
    for rnd in range(1, rounds + 1):
        t0 = time.time()
        pri = live.select(
            "a", "b", _edge_priority(F.col("a"), F.col("b"), rnd, salt).alias("p")
        )
        # min incident priority per vertex (priorities are unique strings,
        # so the min is attained by exactly one edge)
        vmin = (
            pri.select(
                F.explode(F.array("a", "b")).alias("v"), F.col("p")
            )
            .groupBy("v")
            .agg(F.min("p").alias("mp"))
        )
        sel = checkpoint(
            pri.join(
                vmin.select(F.col("v").alias("a"), F.col("mp").alias("ma")), "a"
            )
            .join(vmin.select(F.col("v").alias("b"), F.col("mp").alias("mb")), "b")
            .filter((F.col("p") == F.col("ma")) & (F.col("p") == F.col("mb")))
            .select("a", "b"),
            P,
            "a",
        )
        batch = sel.select("a", "b", F.lit(rnd).cast("int").alias("round"))
        matched = batch if matched is None else matched.union(batch)
        mv = sel.select(F.col("a").alias("v")).union(sel.select("b")).distinct()
        live = checkpoint(
            live.join(mv.withColumnRenamed("v", "a"), "a", "left_anti").join(
                mv.withColumnRenamed("v", "b"), "b", "left_anti"
            ).select("a", "b"),
            P,
            "a",
        )
        n_live = live.count()
        if metrics is not None:
            metrics.append(
                {
                    "round": rnd,
                    "selected": sel.count(),
                    "live_after": n_live,
                    "wall_sec": round(time.time() - t0, 4),
                }
            )
        if n_live == 0:
            break
    else:
        if fixed_rounds is None:
            raise RuntimeError(
                f"maximal_matching did not drain the live edges within "
                f"max_rounds={max_rounds} — expected O(log n) rounds"
            )

    if matched is None:
        return live.select(
            F.col("a"), F.col("b"), F.lit(None).cast("int").alias("round")
        ).limit(0)
    # compact the per-round union tree (bfs.py plan-depth rule)
    return checkpoint(matched, P, "a")
