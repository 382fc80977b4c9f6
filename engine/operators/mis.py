"""Maximal independent set over the link graph — Luby's algorithm.

The classic distributed symmetry-breaking kernel (Luby 1986): repeatedly,
every still-live vertex draws a random priority; a vertex joins the MIS
when its priority beats every live neighbor's, then it and its neighbors
leave the live set. O(log n) rounds with high probability. MIS is the
scheduling/coloring primitive of the parallel-graph-algorithm literature
(independent work batches over a conflict graph — e.g. crawl-frontier
politeness conflicts or co-update partitioning for the hygiene pipeline).

Determinism: the "random" priority is a content hash (the sampling.py /
walks.py trick) —

    p(v, round) = md5(v || '|' || round || '|' || salt) || '|' || v

compared lexicographically: the md5 hex prefix is a uniform draw, the
appended id makes the order total even under hash collisions, and both
halves are engine-portable (the DuckDB oracle replays the identical
strings). So the MIS depends only on (edge set, salt) — not partitioning,
retries, or cluster size — exactly what resumable 10^12-edge runs need.

Semantics: defined on the simple undirected graph (direction ignored,
duplicates collapsed, self-loops dropped — the triangles.py convention; a
vertex whose only incidences are self-loops is isolated after
simplification and enters the MIS in round 1). Node universe is
src ∪ dst of the raw edges.

Physical shape per round: one min-aggregate over the live adjacency
(dst-keyed gather — the PageRank shape, same partitioning and skew
arguments) + two anti-joins; the live set shrinks geometrically and is
re-materialized with lineage truncation each round.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, functions as F

from engine.operators._checkpoint import checkpoint


def _priority(id_col, rnd: int, salt: str):
    h = F.md5(F.concat_ws("|", id_col.cast("string"), F.lit(str(rnd)), F.lit(salt)))
    return F.concat_ws("|", h, id_col.cast("string"))


def maximal_independent_set(
    edges: DataFrame,
    max_rounds: int = 100,
    fixed_rounds: int | None = None,
    salt: str = "mis",
    num_partitions: int | None = None,
    metrics: list | None = None,
) -> DataFrame:
    """Luby MIS labels over src ∪ dst.

    Returns (id BIGINT, status STRING): 'mis' = in the independent set,
    'covered' = removed as a neighbor of a selected vertex, 'live' =
    undecided (only possible with fixed_rounds). Default mode runs to
    fixpoint (live empty; raises if max_rounds is exhausted first — Luby
    needs O(log n) whp, so hitting 100 means something is wrong).
    fixed_rounds=R pins exactly R rounds — the unrolled-SQL oracle
    variant (the i1b technique), whose possibly-'live' remainder is part
    of the contract. metrics: one dict per round (selected, covered,
    live_after, wall) when provided.
    """
    if fixed_rounds is not None and fixed_rounds < 1:
        raise ValueError("fixed_rounds must be >= 1")
    spark = edges.sparkSession
    P = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))

    base = edges.filter(F.col("src") != F.col("dst")).select("src", "dst")
    und = checkpoint(
        base.union(base.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct(),
        P,
        "src",
    )
    live = checkpoint(
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct(),
        P,
        "id",
    )
    decided = None  # (id, status) accumulator

    rounds = fixed_rounds if fixed_rounds is not None else max_rounds
    for rnd in range(1, rounds + 1):
        t0 = time.time()
        pri = live.select("id", _priority(F.col("id"), rnd, salt).alias("p"))
        # min live-neighbor priority per live vertex: join the priority of
        # the dst side (only live ids have a priority row), gather on src
        nbr_min = (
            und.join(pri.select(F.col("id").alias("dst"), F.col("p").alias("pd")), "dst")
            .join(pri.select(F.col("id").alias("src")), "src", "left_semi")
            .groupBy(F.col("src").alias("id"))
            .agg(F.min("pd").alias("np"))
        )
        mis_new = checkpoint(
            pri.join(nbr_min, "id", "left")
            .filter(F.col("np").isNull() | (F.col("p") < F.col("np")))
            .select("id"),
            P,
            "id",
        )
        covered_new = checkpoint(
            und.join(mis_new.select(F.col("id").alias("src")), "src", "left_semi")
            .select(F.col("dst").alias("id"))
            .distinct()
            .join(live, "id", "left_semi")
            .join(mis_new, "id", "left_anti"),
            P,
            "id",
        )
        batch = mis_new.select("id", F.lit("mis").alias("status")).union(
            covered_new.select("id", F.lit("covered").alias("status"))
        )
        decided = batch if decided is None else decided.union(batch)
        live = checkpoint(
            live.join(mis_new, "id", "left_anti").join(covered_new, "id", "left_anti"),
            P,
            "id",
        )
        n_live = live.count()
        if metrics is not None:
            metrics.append(
                {
                    "round": rnd,
                    "selected": mis_new.count(),
                    "covered": covered_new.count(),
                    "live_after": n_live,
                    "wall_sec": round(time.time() - t0, 4),
                }
            )
        if n_live == 0:
            break
    else:
        if fixed_rounds is None:
            raise RuntimeError(
                f"Luby MIS did not empty the live set within max_rounds={max_rounds} "
                "— expected O(log n) rounds; inspect the graph or raise the bound"
            )

    out = decided.union(live.select("id", F.lit("live").alias("status")))
    # compact the per-round union tree (bfs.py plan-depth rule)
    return checkpoint(out, P, "id")
