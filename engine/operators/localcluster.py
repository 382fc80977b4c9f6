"""Local clustering: approximate personalized PageRank push + sweep cut.

The Andersen–Chung–Lang algorithm (ACL, FOCS 2006) — the standard local
community detector: (1) approximate the personalized PageRank vector
around a seed set with the forward-push iteration, whose support stays
O(1/(ε·α)) regardless of graph size — THE property that makes it a
10^12-edge operator: work is proportional to the output cluster, not the
graph; (2) sort the support by degree-normalized score and take the
prefix with minimum conductance (the sweep cut). Cheeger-type guarantee:
if the seed sits in a set of conductance φ, the sweep finds a set of
conductance O(√(φ·log n)).

Both halves are defined on the simple undirected graph (direction
ignored, duplicates collapsed, self-loops dropped — the mis.py
convention).

Forward push, synchronous batched form (all above-threshold vertices push
each round — the DataFrame-native formulation; the classic sequential
one-vertex-at-a-time push computes the same fixpoint):

    active = {u : r(u) > ε·deg(u)}
    p(u)  += α·r(u)                                   (u active)
    r(u)   = (1−α)·r(u)/2 + Σ_{v~u, v active} (1−α)·r(v)/(2·deg(v))
             (first term only if u itself pushed; inactive u keeps r(u))

i.e. the α-damped LAZY random walk (Andersen et al. eq. 2) — each push
keeps half the spread mass at home, which makes the residual decrease
monotone and convergence unconditional. Invariant: p + Σr is conserved
at 1 and, at termination, exact-PPR(v) − p(v) = Σ_u r(u)·PPR_u(v) ≥ 0
with r(u) ≤ ε·deg(u) — the pytest gate checks both.

Sweep determinism policy: the sweep ORDER is by round(p/deg, 9)
descending then id — the 9-dp rounding absorbs cross-engine float-sum
noise (the d2/i1b policy applied to ordering, where a last-ulp
difference would otherwise reorder the whole prefix ladder), and cut/vol
are exact integers, so the conductance ladder is engine-portable.

Scale note: the sweep's row_number runs in a single window partition BY
DESIGN — its input is the push support, which ε bounds to a constant
independent of graph size (that is the ACL point); for global rankings
use the two-phase distributed rank in tfidf.py.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Window, functions as F

from engine.operators._checkpoint import checkpoint


def _simple_undirected(edges: DataFrame) -> DataFrame:
    base = edges.filter(F.col("src") != F.col("dst")).select("src", "dst")
    return base.union(
        base.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()


def ppr_push(
    edges: DataFrame,
    seeds: DataFrame,
    alpha: float = 0.15,
    eps: float = 1e-6,
    max_rounds: int = 500,
    fixed_rounds: int | None = None,
    num_partitions: int | None = None,
    metrics: list | None = None,
) -> DataFrame:
    """ACL forward-push approximate PPR. Returns (id, p DOUBLE, r DOUBLE).

    seeds: DataFrame with an `id` column; the start distribution is
    uniform over it. Rows cover every vertex ever touched (p or r > 0).
    Runs until no vertex has r > ε·deg (raises past max_rounds — the
    residual halves at least geometrically, so hitting 500 means a bug),
    or exactly fixed_rounds rounds for the unrolled-SQL oracle variant.
    Seeds that are isolated after simplification (deg 0) keep their mass
    in r forever — they can never push; that mass is part of the output.
    """
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    if fixed_rounds is not None and fixed_rounds < 1:
        raise ValueError("fixed_rounds must be >= 1")
    spark = edges.sparkSession
    P = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))

    und = checkpoint(_simple_undirected(edges), P, "src")
    deg = und.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("deg"))

    n_seeds = seeds.select("id").distinct().count()
    if n_seeds == 0:
        raise ValueError("ppr_push needs at least one seed")
    state = checkpoint(
        seeds.select("id")
        .distinct()
        .join(deg, "id", "left")
        .select(
            "id",
            F.lit(0.0).alias("p"),
            F.lit(1.0 / n_seeds).alias("r"),
            F.coalesce("deg", F.lit(0)).alias("deg"),
        ),
        P,
        "id",
    )

    rounds = fixed_rounds if fixed_rounds is not None else max_rounds
    done = False
    for rnd in range(1, rounds + 1):
        t0 = time.time()
        st = state.withColumn(
            "active", (F.col("deg") > 0) & (F.col("r") > F.lit(eps) * F.col("deg"))
        )
        n_active = st.filter("active").count()
        if n_active == 0:
            done = True
            break
        spread = (
            st.filter("active")
            .select(F.col("id").alias("src"), (F.col("r") / F.col("deg")).alias("m"))
            .join(und, "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(
                (F.lit((1.0 - alpha) / 2.0) * F.sum("m")).alias("inc")
            )
        )
        new_state = (
            st.join(spread, "id", "outer")
            .join(deg.withColumnRenamed("deg", "deg2"), "id", "left")
            .select(
                "id",
                (
                    F.coalesce("p", F.lit(0.0))
                    + F.when(F.coalesce("active", F.lit(False)), F.lit(alpha) * F.col("r"))
                    .otherwise(F.lit(0.0))
                ).alias("p"),
                (
                    F.when(
                        F.coalesce("active", F.lit(False)),
                        F.lit((1.0 - alpha) / 2.0) * F.col("r"),
                    ).otherwise(F.coalesce("r", F.lit(0.0)))
                    + F.coalesce("inc", F.lit(0.0))
                ).alias("r"),
                F.coalesce("deg", "deg2", F.lit(0)).alias("deg"),
            )
        )
        state = checkpoint(new_state, P, "id")
        if metrics is not None:
            metrics.append(
                {
                    "round": rnd,
                    "active": n_active,
                    "support": state.count(),
                    "wall_sec": round(time.time() - t0, 4),
                }
            )
    else:
        done = fixed_rounds is not None
    if not done:
        raise RuntimeError(
            f"ppr_push did not drain the residual within max_rounds={max_rounds}"
        )
    return state.select("id", "p", "r")


def sweep_cut(
    edges: DataFrame,
    scores: DataFrame,
    score_col: str = "p",
    num_partitions: int | None = None,
) -> DataFrame:
    """Conductance ladder over degree-normalized score prefixes.

    Returns (pos, id, cut BIGINT, vol BIGINT, conductance DOUBLE): row t
    describes the prefix set S_t of the first t vertices in
    (round(score/deg, 9) DESC, id) order — cut(S_t) = undirected edges
    leaving S_t, vol(S_t) = Σ deg, conductance = cut/min(vol, 2m−vol)
    rounded to 6 dp (NULL when the denominator is 0, i.e. S_t touches
    every edge endpoint). Vertices with score ≤ 0 or degree 0 are outside
    the sweep (isolated vertices bound no cut). Cut and vol are exact
    integers; see the module docstring for why the order key is rounded.
    """
    spark = edges.sparkSession
    und = _simple_undirected(edges)
    deg = und.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("deg"))
    two_m = und.count()  # symmetrized: Σ deg = 2m already

    ranked = (
        scores.filter(F.col(score_col) > 0)
        .join(deg, "id")
        .select(
            "id",
            "deg",
            F.round(F.col(score_col) / F.col("deg"), 9).alias("key"),
        )
    )
    w = Window.orderBy(F.col("key").desc(), F.col("id"))
    ranked = ranked.select(
        "id", "deg", F.row_number().over(w).cast("long").alias("pos")
    ).persist()

    pos = ranked.select(F.col("id").alias("u"), F.col("pos").alias("pu"))
    # an und edge (as an unordered pair) is cut by prefix t iff
    # minpos <= t < maxpos; edges with an endpoint outside the sweep
    # (no pos) are cut for every t >= pos(inside endpoint)
    half = und.filter(F.col("src") < F.col("dst"))
    epos = (
        half.join(pos.withColumnRenamed("u", "src").withColumnRenamed("pu", "ps"), "src", "left")
        .join(pos.withColumnRenamed("u", "dst").withColumnRenamed("pu", "pd"), "dst", "left")
        .filter(F.col("ps").isNotNull() | F.col("pd").isNotNull())
        .select(
            # least/greatest skip NULLs: one-endpoint-outside edges open at
            # the inside endpoint's position
            F.least(F.col("ps"), F.col("pd")).alias("minpos"),
            # ... and never close (cut forever once the inside endpoint
            # enters): maxpos = +inf, encoded as NULL
            F.when(
                F.col("ps").isNotNull() & F.col("pd").isNotNull(),
                F.greatest(F.col("ps"), F.col("pd")),
            ).alias("maxpos"),
        )
    )
    opens = epos.groupBy(F.col("minpos").alias("pos")).agg(F.count(F.lit(1)).alias("opened"))
    closes = (
        epos.filter(F.col("maxpos").isNotNull())
        .groupBy(F.col("maxpos").alias("pos"))
        .agg(F.count(F.lit(1)).alias("closed"))
    )
    cw = Window.orderBy("pos").rowsBetween(Window.unboundedPreceding, 0)
    out = (
        ranked.join(opens, "pos", "left")
        .join(closes, "pos", "left")
        .select(
            "pos",
            "id",
            "deg",
            F.coalesce("opened", F.lit(0)).alias("opened"),
            F.coalesce("closed", F.lit(0)).alias("closed"),
        )
        .select(
            "pos",
            "id",
            (F.sum("opened").over(cw) - F.sum("closed").over(cw)).alias("cut"),
            F.sum("deg").over(cw).alias("vol"),
        )
        .select(
            "pos",
            "id",
            "cut",
            "vol",
            F.when(
                F.least(F.col("vol"), F.lit(two_m) - F.col("vol")) > 0,
                F.round(
                    F.col("cut") / F.least(F.col("vol"), F.lit(two_m) - F.col("vol")), 6
                ),
            ).alias("conductance"),
        )
    )
    out = out.localCheckpoint(eager=True)
    ranked.unpersist()
    return out


def acl_cluster(
    edges: DataFrame,
    seeds: DataFrame,
    alpha: float = 0.15,
    eps: float = 1e-5,
    fixed_rounds: int | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """ACL local community: the minimum-conductance sweep prefix.

    Returns the member vertices (id BIGINT) of the best sweep set —
    ties on conductance broken toward the SMALLEST prefix (the tightest
    community), then by position order determinism. fixed_rounds pins
    the push (the unrolled-SQL oracle variant); default runs it to the
    eps fixpoint.
    """
    scores = ppr_push(
        edges,
        seeds,
        alpha=alpha,
        eps=eps,
        fixed_rounds=fixed_rounds,
        num_partitions=num_partitions,
    )
    ladder = sweep_cut(edges, scores, num_partitions=num_partitions)
    best = (
        ladder.filter(F.col("conductance").isNotNull())
        .orderBy(F.col("conductance").asc(), F.col("pos").asc())
        .limit(1)
        .select(F.col("pos").alias("best_pos"))
    )
    return ladder.join(F.broadcast(best), F.col("pos") <= F.col("best_pos")).select("id")
