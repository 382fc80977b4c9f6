"""Distributed greedy graph coloring — Jones–Plassmann.

The third symmetry-breaking kernel after Luby MIS (mis.py) and
local-dominant matching (matching.py): fix ONE random priority per
vertex; each round, every still-uncolored vertex whose priority beats
all uncolored neighbors takes the SMALLEST color absent from its
already-colored neighborhood (the greedy mex). Jones & Plassmann 1993:
expected O(log n / log log n) rounds, at most Δ+1 colors. Coloring is
the conflict-free scheduling primitive (batch co-updates of adjacent
hosts, register-allocating crawl queues, partition-parallel Gauss-Seidel
over the link matrix).

Determinism: the priority is the mis.py content hash, drawn ONCE (not
per round — the JP point: one fixed permutation) —

    p(v) = md5(v || '|' || salt) || '|' || v

so the coloring depends only on (edge set, salt) and replays in any
engine. The mex needs only `sequence(0, |used|)`/`array_except`/
`array_min` — pure Catalyst, and the DuckDB oracle reproduces it with a
range anti-join.

Semantics: simple undirected graph (direction ignored, duplicates
collapsed, self-loops dropped — the mis.py convention); node universe is
src ∪ dst of the raw edges; isolated-after-simplification vertices have
no uncolored neighbors and take color 0 in round 1.

Physical shape per round: one min-aggregate over the uncolored adjacency
(the MIS gather) + one collect_set over the colored adjacency, both
dst-keyed; the uncolored set shrinks geometrically with lineage
truncation each round.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, functions as F

from engine.operators._checkpoint import checkpoint


def _priority(id_col, salt: str):
    h = F.md5(F.concat_ws("|", id_col.cast("string"), F.lit(salt)))
    return F.concat_ws("|", h, id_col.cast("string"))


def greedy_coloring(
    edges: DataFrame,
    max_rounds: int = 200,
    fixed_rounds: int | None = None,
    salt: str = "jp",
    num_partitions: int | None = None,
    metrics: list | None = None,
) -> DataFrame:
    """Jones–Plassmann coloring over src ∪ dst.

    Returns (id BIGINT, color INT, round INT): the greedy color and the
    round it was assigned; in fixed-round mode (the unrolled-SQL oracle
    variant) still-uncolored vertices appear with NULL color and round.
    Default mode runs until every vertex is colored (raises past
    max_rounds). Proper-coloring and <= Δ+1 invariants are pytest-gated.
    metrics: one dict per round (colored, uncolored_after, wall).
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
    unc = checkpoint(
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
        .select("id", _priority(F.col("id"), salt).alias("p")),
        P,
        "id",
    )
    colored = None  # (id, color, round) accumulator

    rounds = fixed_rounds if fixed_rounds is not None else max_rounds
    for rnd in range(1, rounds + 1):
        t0 = time.time()
        # min uncolored-neighbor priority per uncolored vertex
        nbr_min = (
            und.join(
                unc.select(F.col("id").alias("dst"), F.col("p").alias("pd")), "dst"
            )
            .join(unc.select(F.col("id").alias("src")), "src", "left_semi")
            .groupBy(F.col("src").alias("id"))
            .agg(F.min("pd").alias("np"))
        )
        winners = checkpoint(
            unc.join(nbr_min, "id", "left")
            .filter(F.col("np").isNull() | (F.col("p") < F.col("np")))
            .select("id"),
            P,
            "id",
        )
        if colored is not None:
            used = (
                und.join(winners.select(F.col("id").alias("src")), "src", "left_semi")
                .join(
                    colored.select(F.col("id").alias("dst"), "color"), "dst"
                )
                .groupBy(F.col("src").alias("id"))
                .agg(F.collect_set("color").alias("used"))
            )
            empty = F.array().cast("array<int>")
            used_arr = F.coalesce(F.col("used"), empty)
            batch = (
                winners.join(used, "id", "left")
                .select(
                    "id",
                    F.array_min(
                        F.array_except(
                            F.sequence(F.lit(0), F.size(used_arr)), used_arr
                        )
                    )
                    .cast("int")
                    .alias("color"),
                    F.lit(rnd).cast("int").alias("round"),
                )
            )
        else:
            batch = winners.select(
                "id",
                F.lit(0).cast("int").alias("color"),
                F.lit(rnd).cast("int").alias("round"),
            )
        batch = checkpoint(batch, P, "id")
        colored = batch if colored is None else checkpoint(colored.union(batch), P, "id")
        unc = checkpoint(unc.join(winners, "id", "left_anti"), P, "id")
        n_unc = unc.count()
        if metrics is not None:
            metrics.append(
                {
                    "round": rnd,
                    "colored": batch.count(),
                    "uncolored_after": n_unc,
                    "wall_sec": round(time.time() - t0, 4),
                }
            )
        if n_unc == 0:
            break
    else:
        if fixed_rounds is None:
            raise RuntimeError(
                f"Jones-Plassmann did not color every vertex within "
                f"max_rounds={max_rounds} — expected O(log n / log log n)"
            )

    return colored.union(
        unc.select(
            "id",
            F.lit(None).cast("int").alias("color"),
            F.lit(None).cast("int").alias("round"),
        )
    )
